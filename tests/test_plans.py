"""Physical-plan quality gates: the optimizations the engine claims must be
visible in the executed plan, not just intended.

- the fetch join BROADCASTS the frontier (never shuffles the pages table)
- the pages scan reads ONLY (pbucket, url, html) — column pruning keeps
  warc_ts/text/lang out of every crawl-path scan
- frontier rows at max_depth read only (pbucket, url) — no html at all
- predicate pushdown reaches the parquet scan for the contract's filter query
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_fetch_join_broadcasts_frontier(spark, pages3):
    from crawl4ai_scraper_spark.plans.frontier import fetch_join

    frontier = spark.createDataFrame([("https://site0.example/",)], "url string")
    plan = _plan(fetch_join(pages3, frontier, 32, broadcast_threshold=1_000_000))
    assert "BroadcastHashJoin" in plan
    # the big (pages) side must not be exchanged by hash partitioning
    assert "Exchange hashpartitioning" not in plan.split("BroadcastHashJoin")[0]


def test_fetch_join_falls_back_to_shuffle_above_threshold(spark, pages3):
    """Above the row threshold the join must work without ANY broadcast —
    at 10^10 scale neither side fits. (The tiny test corpus would get
    auto-broadcast, so that is disabled for the assertion.)"""
    from crawl4ai_scraper_spark.plans.frontier import fetch_join

    frontier = spark.createDataFrame([("https://site0.example/",)], "url string")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(fetch_join(pages3, frontier, 32, broadcast_threshold=0))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_crawl_scan_prunes_columns(spark, pages3):
    from crawl4ai_scraper_spark.plans.frontier import fetch_join

    frontier = spark.createDataFrame([("https://site0.example/",)], "url string")
    plan = _plan(fetch_join(pages3, frontier, 32, broadcast_threshold=1_000_000))
    # every pages scan in the crawl path carries at most pbucket/url/html
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema_line = chunk.splitlines()[0]
        if "html" in schema_line or "url" in schema_line:
            assert "warc_ts" not in schema_line
            assert "text" not in schema_line
            assert "lang" not in schema_line


def test_pushdown_reaches_parquet_scan(spark):
    from crawl4ai_scraper_spark import contract

    df = contract.queries()["pushdown_filter_agg"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate (not the empty list)
    pushed = [c.splitlines()[0] for c in plan.split("PushedFilters: ")[1:]]
    assert any(p.strip() not in ("[]", "[],") for p in pushed), pushed


def test_final_depth_probe_reads_no_html(spark, pages3):
    """A max-depth frontier's existence probe must scan only (pbucket, url)."""
    from crawl4ai_scraper_spark.sources.pages import with_pbucket

    frontier = with_pbucket(
        spark.createDataFrame([("https://site0.example/", "site0.example", 2, 1)],
                              "url string, host string, depth int, arrival_rank long"),
        32,
    )
    probe = pages3.select("pbucket", "url").join(F.broadcast(frontier), ["pbucket", "url"],
                                                 "inner")
    plan = _plan(probe)
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema_line = chunk.splitlines()[0]
        if "pbucket" in schema_line or "url" in schema_line:
            assert "html" not in schema_line


def test_minhash_band_join_carries_no_shingles(spark):
    """The ×n_bands band explode and the candidate-pair join must shuffle
    only (band, bhash, id) — shingle arrays join back AFTER pair dedup."""
    from crawl4ai_scraper_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(8)],
        "doc long, text string",
    )
    pairs = minhash_lsh_pairs(docs, "text", "doc", k=3, n_hashes=8, n_bands=4)
    plan = _optimized(pairs)
    # the band-join keys are (band, bhash); sh/shset may appear only in the
    # two final verify joins keyed on id_a/id_b
    band_join = [seg for seg in plan.split("\n") if "bhash" in seg and "Join" in seg]
    assert band_join, plan
    for line in band_join:
        assert "sh" not in line.replace("bhash", ""), line


def test_simhash_has_no_bit_explode(spark):
    """SimHash must explode tokens ONCE (no token × n_bits row blowup)."""
    from crawl4ai_scraper_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma {i}") for i in range(4)], "doc long, text string"
    )
    plan = _optimized(simhash(docs, "text", "doc", n_bits=32))
    assert plan.count("Generate explode") == 1, plan


def test_embedding_near_dup_bucketed_is_equi_join(spark):
    """The scale near-dup path must generate candidates via a bucket
    EQUI-join — no broadcast nested-loop / cartesian in the plan."""
    from crawl4ai_scraper_spark.operators.dedup import embedding_near_dup_bucketed

    vecs = spark.createDataFrame(
        [(i, [float(i % 3)] * 64) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(embedding_near_dup_bucketed(vecs, "vec_id", "embedding"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_multi_probe_lsh_recall_not_worse(spark):
    """Multi-probe near-dup (2 plane seeds) must find a superset of the
    single-probe pairs, still via equi-joins only."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.operators.dedup import embedding_near_dup_bucketed

    base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 40
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    variants = base.select((F.col("vec_id") + 100000).alias("vec_id"),
                           F.transform("e", lambda x: x * F.lit(1.02) + F.lit(0.003)).alias("e"))
    corpus = base.unionByName(variants)
    one = {(r.id_a, r.id_b) for r in
           embedding_near_dup_bucketed(corpus, "vec_id", "e", threshold=0.98).collect()}
    two = {(r.id_a, r.id_b) for r in
           embedding_near_dup_bucketed(corpus, "vec_id", "e", threshold=0.98,
                                       n_probe_seeds=2).collect()}
    assert one <= two
    plan = _plan(embedding_near_dup_bucketed(corpus, "vec_id", "e", n_probe_seeds=2))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_simhash_near_dup_banding_is_exact(spark):
    """Pigeonhole banding (4 pieces, hamming<=3) must equal the brute-force
    hamming filter on the same corpus."""
    from pyspark.sql import functions as F

    from crawl4ai_scraper_spark.operators.dedup import simhash, simhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        F.col("doc_id") < 40
    ).select(F.col("doc_id").alias("doc"), "text")
    variants = docs.select((F.col("doc") + 100000).alias("doc"),
                           F.expr("substr(text, 8)").alias("text"))
    corpus = docs.unionByName(variants)
    banded = {(r.id_a, r.id_b, r.hamming) for r in
              simhash_near_dup_pairs(corpus, "text", "doc").collect()}
    sims = simhash(corpus, "text", "doc")
    a = sims.select(F.col("doc").alias("id_a"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {(r.id_a, r.id_b, r.hamming) for r in
             a.join(b, F.col("id_a") < F.col("id_b"))
              .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS INT)"))
              .filter(F.col("hamming") <= 3)
              .select("id_a", "id_b", "hamming").collect()}
    assert banded == brute and len(banded) > 0


def test_tpch_q5_broadcasts_dims_and_q3_takeordered(spark):
    """Q5: the dim sides (supplier/nation/region) reach the plan as broadcast
    joins — no shuffle of lineitem against tiny tables. Q3: the top-10 is a
    TakeOrderedAndProject, not a global sort."""
    from crawl4ai_scraper_spark import contract

    sf = "/root/testdata/sf0.001"
    q5 = contract.queries()["tpch_q5_local_supplier_volume"](spark, sf)
    p5 = q5._jdf.queryExecution().executedPlan().toString()
    assert p5.count("BroadcastHashJoin") >= 3, p5[:2000]

    q3 = contract.queries()["tpch_q3_shipping_priority"](spark, sf)
    p3 = q3._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p3


def test_tpch_suite_plan_shapes(spark):
    """The 19 round-3 TPC-H shapes produce the plans you'd want at 100 TB:
    no CartesianProduct anywhere (scalar thresholds are 1-row broadcast
    nested-loop joins, never cartesian shuffles), semi/anti joins stay
    semi/anti at the physical level, and the deterministic top-k queries
    run as TakeOrderedAndProject instead of a global sort."""
    from crawl4ai_scraper_spark import contract

    sf = "/root/testdata/sf0.001"
    qs = contract.queries()
    tpch = [n for n in qs if n.startswith("tpch_q")]
    assert len(tpch) == 22
    for name in tpch:
        plan = qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, f"{name}: {plan[:1500]}"

    def plan_of(name):
        return qs[name](spark, sf)._jdf.queryExecution().executedPlan().toString()

    # EXISTS/NOT-IN shapes keep semi/anti joins physical
    assert "LeftSemi" in plan_of("tpch_q4_order_priority")
    p21 = plan_of("tpch_q21_suppliers_kept_waiting")
    assert "LeftSemi" in p21 and "LeftAnti" in p21
    assert "LeftAnti" in plan_of("tpch_q16_supplier_part_count")
    assert "LeftAnti" in plan_of("tpch_q22_global_sales_opportunity")
    # deterministic top-k is TakeOrdered, not global sort
    assert "TakeOrderedAndProject" in plan_of("tpch_q10_returned_items")
    assert "TakeOrderedAndProject" in plan_of("tpch_q18_large_volume_customer")
    # scalar-threshold joins broadcast the 1-row side (q15's equality filter
    # over the crossJoin is rewritten by Catalyst into a broadcast EQUI-join)
    assert "BroadcastNestedLoopJoin" in plan_of("tpch_q11_important_value")
    p15 = plan_of("tpch_q15_top_supplier")
    assert "BroadcastHashJoin" in p15 or "BroadcastNestedLoopJoin" in p15
    # the two-role nation dims broadcast
    assert plan_of("tpch_q7_volume_shipping").count("BroadcastHashJoin") >= 3
    assert plan_of("tpch_q8_market_share").count("BroadcastHashJoin") >= 4


def test_anchor_text_agg_two_exchanges_no_html(spark):
    """page_anchor_texts: html must never enter an Exchange (only the short
    (target, anchor) pairs shuffle), and the whole aggregation costs exactly
    two shuffles — the uniform (target, anchor) pair groupBy and the
    per-target window/collect partitioning."""
    from crawl4ai_scraper_spark.operators.graph import page_anchor_texts

    pages = spark.createDataFrame(
        [(f"https://s.example/p{i}",
          bytearray(f'<p><a href="/t{i % 3}">label {i % 5}</a></p>'.encode()))
         for i in range(12)],
        "url string, html binary",
    )
    out = page_anchor_texts(pages)
    phys = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in phys.split("\n") if "Exchange" in ln]
    assert exchanges, phys
    for ln in exchanges:
        assert "html" not in ln, ln
    # AQE may re-plan, so count distinct hash partitionings instead of nodes:
    # pair key (target, anchor) and target key only.
    keys = {ln.split("Exchange hashpartitioning(")[1].split(")")[0]
            for ln in exchanges if "hashpartitioning" in ln}
    assert len(keys) <= 2, keys


def test_url_blocklist_filter_broadcast_anti_join(spark):
    """The host blocklist must be BROADCAST (anti-join; no shuffle of the
    url side) and the spam score must be a plain scan-side projection."""
    from crawl4ai_scraper_spark.plans.politeness import url_blocklist_filter

    urls = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("https://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".example/p"), F.col("id").cast("string")).alias("url"),
    )
    blocked = spark.createDataFrame([("h3.example",)], "host string")
    plan = _plan(url_blocklist_filter(urls, "url", blocked, spam_threshold=0.9))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "Exchange hashpartitioning" not in plan


def test_host_reputation_single_exchange(spark):
    """One map-side-combined groupBy on the host key: exactly one hash
    exchange, with a partial_ aggregate before it."""
    from crawl4ai_scraper_spark.operators.textops import host_reputation

    docs = spark.createDataFrame(
        [(i, f"some quality text number {i}", f"h{i % 4}") for i in range(40)],
        "doc_id long, text string, source string",
    )
    plan = _plan(host_reputation(docs))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan  # map-side combine before the shuffle


def test_nb_score_broadcasts_weight_table(spark):
    """The classifier weight table (a ≤vocab_size model artifact) must enter
    the scoring scan as a broadcast: hot tokens never skew an exchange, and
    the only corpus-volume shuffle is the per-doc sum's hash exchange."""
    from crawl4ai_scraper_spark.operators.textops import nb_score, nb_token_weights

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here", i % 2 == 0) for i in range(40)],
        "doc_id long, text string, y boolean",
    )
    w = nb_token_weights(docs, "text", "y", vocab_size=50)
    plan = _plan(nb_score(docs, "text", "doc_id", w))
    assert "BroadcastHashJoin" in plan
    # three hash exchanges in the whole train+score pipeline, all at
    # distinct-token or doc key space: token counts for the top-V cut,
    # token counts again for the totals reduce (two consumers of the same
    # agg — one extra scan, no new shuffle shape), and the per-doc sum.
    # The corpus token stream itself reaches the broadcast join unshuffled.
    assert plan.count("Exchange hashpartitioning") == 3
    assert "partial_sum" in plan  # map-side combine on the per-doc sum


def test_bpe_pair_counts_single_small_exchange(spark):
    """Pair counting runs over the distinct-word table: one corpus-volume
    word-count exchange + one pair-key exchange, both with map-side
    combine; the symbol strings themselves never shuffle at corpus
    volume."""
    from crawl4ai_scraper_spark.operators import bpe as B

    docs = spark.createDataFrame(
        [(i, "low lower lowest") for i in range(20)], "doc_id long, text string"
    )
    plan = _plan(B.pair_counts(B.word_syms(docs, "text")))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan and "partial_sum" in plan


def test_bpe_segment_broadcasts_model_map(spark):
    """The word→pieces serving map broadcasts into the corpus token stream
    (same shape as vocab_encode); per-doc reassembly is the one
    corpus-volume exchange."""
    from crawl4ai_scraper_spark.operators import bpe as B

    docs = spark.createDataFrame(
        [(i, "banana bandana low") for i in range(20)], "doc_id long, text string"
    )
    merges = B.bpe_train_local(docs, "text", n_merges=4)
    wp = B.apply_merges(B.word_syms(docs, "text"), merges)
    plan = _plan(B.bpe_segment(docs, "text", "doc_id", wp))
    assert "BroadcastHashJoin" in plan


def test_pack_token_ids_no_corpus_volume_window(spark):
    """Every ordering window in the packing plan must be either partitioned
    (within-bucket cumsum over _b) or over bucket ids — never an
    unpartitioned window over corpus-volume rows; the drop-last total must
    arrive by broadcast."""
    from crawl4ai_scraper_spark.operators.packing import pack_token_ids

    enc = spark.range(2000).select(
        F.col("id"),
        F.sequence(F.lit(1), (F.col("id") % 7 + 1).cast("int")).alias("token_ids"),
    )
    plan = _plan(pack_token_ids(enc, "id", "token_ids", seq_len=64))
    import re
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        # unpartitioned windows are allowed only over the bucket-id frame
        # (its ordering column is the DIV-derived _b)
        assert "_b#" in spec, spec
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_weighted_sample_takeordered_zero_exchange(spark):
    """Digest → key math is a scan-side projection; the top-k is
    TakeOrderedAndProject (per-partition heaps) with no Exchange at all."""
    from crawl4ai_scraper_spark.operators.textops import weighted_sample

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 9 + 1).cast("double").alias("w")
    )
    plan = _plan(weighted_sample(docs, "doc_id", F.col("w"), k=25))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_host_trap_stats_single_host_exchange(spark):
    """Template/content-hash are projections; the only exchanges belong to
    the single host-keyed aggregate (Expand pass shared by the two exact
    distinct counts) — html/text itself never shuffles, only its md5."""
    from crawl4ai_scraper_spark.plans.politeness import host_trap_stats

    df = spark.range(200).select(
        F.concat(F.lit("h"), (F.col("id") % 4).cast("string")).alias("host"),
        F.concat(F.lit("https://h"), (F.col("id") % 4).cast("string"),
                 F.lit(".ex/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("text"),
    )
    out = host_trap_stats(df, "host", "url", "text")
    plan = _plan(out)
    assert "Expand" in plan
    # text reaches no Exchange: every exchange carries only host/tpl/md5 cols
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line
    r = {x["host"]: x for x in out.collect()}
    assert r["h0"]["n_urls"] == 50 and r["h0"]["n_templates"] == 1
    assert not r["h0"]["trap_suspect"]  # distinct bodies -> low dup ratio


def test_dsir_weights_broadcast_profiles_single_doc_exchange(spark):
    """DSIR scoring: the gram stream is a projection+generate off the scan,
    both B-row profiles enter via BroadcastHashJoin (never SortMergeJoin —
    the corpus-volume side must not shuffle for the join), and the gram
    volume crosses exactly ONE hashpartitioning Exchange: the final
    groupBy(doc_id). The profiles' own O(B)-key aggregates are the only
    other exchanges and carry bucket counts, not corpus data."""
    from crawl4ai_scraper_spark.operators import selection as SEL

    docs = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("tok"), (F.col("id") % 7).cast("string"),
                 F.lit(" word "), (F.col("id") % 3).cast("string")).alias("text"),
    )
    tp = SEL.dsir_profile(docs.filter(F.col("doc_id") % 2 == 0), "text", "doc_id", 64)
    rp = SEL.dsir_profile(docs, "text", "doc_id", 64)
    plan = _plan(SEL.dsir_log_weights(docs, "text", "doc_id", tp, rp, 64))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # every hash exchange is either the final doc_id agg (at most one — AQE
    # elides it from the unexecuted plan print) or an O(B)-bucket profile
    # aggregate behind the persisted InMemoryRelations; the gram/text volume
    # itself never crosses a non-doc_id shuffle
    assert plan.count("hashpartitioning(doc_id") <= 1
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "doc_id" not in line:
            assert "bucket" in line, line


def test_dsir_select_takeordered(spark):
    """Gumbel-top-k is TakeOrderedAndProject over the weights — per-partition
    heaps + driver k-merge, never a global sort."""
    from crawl4ai_scraper_spark.operators import selection as SEL

    w = spark.range(400).select(
        F.col("id").alias("doc_id"), F.lit(10).alias("n_grams"),
        (F.col("id") % 13).cast("double").alias("log_weight"),
    )
    plan = _plan(SEL.dsir_select(w, "doc_id", k=20))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_commit_round_footer_stats_and_late_meta(spark, tmp_path):
    """round_write_stats derives the post-commit scalars (frontier rows, max
    sched_ts) from parquet footers — no Spark job — and meta_late lands in
    the manifest AFTER the data writes, on both commits: the driver-side
    round-0 commit and commit_round_start."""
    import json
    import os

    from crawl4ai_scraper_spark.plans.checkpoint import (
        commit_round,
        commit_round_start,
        round_dir,
        round_write_stats,
    )

    chk = str(tmp_path / "chk")
    called = {}

    def late(rnd):
        def hook():
            f_n, vt = round_write_stats(chk, rnd)
            called[rnd] = (f_n, vt)
            return {"frontier_n": f_n, "round_vt": vt}
        return hook

    def manifest(rnd):
        return json.load(open(os.path.join(round_dir(chk, rnd), "manifest.json")))

    # round 0: the one-row seed frontier, no visited delta -> vt None
    commit_round(chk, "https://h/", "h", {"seq_base": 0}, meta_late=late(0))
    assert called[0] == (1, None)
    man = manifest(0)
    assert man["frontier_n"] == 1 and man["round_vt"] is None
    assert man["seq_base"] == 0 and man["round"] == 0

    frontier = spark.createDataFrame(
        [(f"https://h/{i}", 1) for i in range(17)], "url string, depth int"
    )
    visits = spark.createDataFrame(
        [(f"https://h/{i}", 1, 100.0 + i) for i in range(5)],
        "url string, depth int, sched_ts double",
    )
    lineage = spark.createDataFrame([(0, 1)], "pid int, n int")

    commit_round_start(chk, 1, frontier, {"visited": visits, "lineage": lineage},
                       {"seq_base": 1}, sizes={"frontier": 17}).finalize(late(1))
    assert called[1] == (17, 104.0)
    man = manifest(1)
    assert man["frontier_n"] == 17 and man["round_vt"] == 104.0
    assert man["seq_base"] == 1 and man["round"] == 1

    # empty round: no visited rows -> vt None, frontier 0
    commit_round_start(chk, 2, frontier.limit(0),
                       {"visited": visits.limit(0), "lineage": lineage},
                       {"seq_base": 6}).finalize(late(2))
    assert called[2] == (0, None)
    assert manifest(2)["frontier_n"] == 0


def test_commit_round_start_defers_manifest(spark, tmp_path):
    """commit_round_start: the frontier is readable (and footer-countable)
    as soon as the call returns, but the manifest only lands at finalize —
    and abort() drains writes without committing."""
    import json
    import os

    from crawl4ai_scraper_spark.plans.checkpoint import (
        commit_round_start,
        frontier_rows,
        round_dir,
        round_write_stats,
    )

    chk = str(tmp_path / "chk")
    frontier = spark.createDataFrame(
        [(f"https://h/{i}", 1) for i in range(9)], "url string, depth int"
    )
    visits = spark.createDataFrame(
        [(f"https://h/{i}", 1, 50.0 + i) for i in range(4)],
        "url string, depth int, sched_ts double",
    )
    lineage = spark.createDataFrame([(0, 1)], "pid int, n int")

    h = commit_round_start(chk, 0, frontier,
                           {"visited": visits, "lineage": lineage},
                           {"seq_base": 3}, heavy=("visited",))
    # phase A: frontier written + countable, manifest NOT committed yet
    assert frontier_rows(chk, 0) == 9
    assert not os.path.exists(os.path.join(round_dir(chk, 0), "manifest.json"))

    h.finalize(lambda: {"frontier_n": round_write_stats(chk, 0)[0],
                        "round_vt": round_write_stats(chk, 0)[1]})
    man = json.load(open(os.path.join(round_dir(chk, 0), "manifest.json")))
    assert man["frontier_n"] == 9 and man["round_vt"] == 53.0
    assert man["seq_base"] == 3 and man["round"] == 0

    # abort path: writes drain, no manifest
    h2 = commit_round_start(chk, 1, frontier.limit(0),
                            {"visited": visits.limit(0), "lineage": lineage},
                            {"seq_base": 9}, heavy=("visited",))
    h2.abort()
    assert not os.path.exists(os.path.join(round_dir(chk, 1), "manifest.json"))


def test_semdedup_plan_no_cartesian_cell_key_join(spark):
    """semdedup's candidate generation must be an equi-join on the cell key
    (hash shuffle bounded by cell population) — never a cartesian/broadcast
    nested loop — and the assignment must be a scan-side projection (no join
    before the cell join)."""
    from crawl4ai_scraper_spark.operators.similarity import semdedup

    df = spark.range(0, 200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1) % 97).cast("double") for i in range(8)]).alias("e"),
    )
    plan = _plan(semdedup(df, "vec_id", "e", dim=8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join keys on cell
    assert "cell" in plan


def test_sketch_and_containment_plan_shapes(spark):
    """New round-3 ops keep their claimed scale shapes: KMV's k-smallest is
    a TakeOrderedAndProject over the deduplicated hash stream (the driver
    sees k rows); HLL is bounded-key aggregation with no join at all;
    containment's candidate generation is equi-joins only (no cartesian) and
    its per-doc prefix rank is a window partitioned by doc."""
    from crawl4ai_scraper_spark import contract

    sf = "/root/testdata/sf0.001"
    qs = contract.queries()

    kmv = qs["sketch_kmv_distinct"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in kmv

    hll = qs["sketch_hll_distinct"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in hll and "CartesianProduct" not in hll

    cont = qs["dedup_containment"](spark, sf)
    p = cont._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    opt = cont._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in opt and "partitionBy=[doc" in opt.replace(" ", "") \
        or "Window" in p  # prefix rank stays a per-doc window

    pr = qs["classifier_pr_table"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in pr


def test_sketch_roundout_plan_shapes(spark):
    """Grouped HLL stays join-free bounded-key aggregation; the CMS
    estimate joins the tiny probe frame BROADCAST against the ≤d·w synopsis
    (no shuffle join, no cartesian); exact_quantiles' only corpus exchange
    is the histogram groupBy — the cumulative window and the quantile
    cross join run on the synopsis, and the q-frame join is broadcast."""
    from crawl4ai_scraper_spark import contract

    sf = "/root/testdata/sf0.001"
    qs = contract.queries()

    hll = qs["sketch_hll_by_lang"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in hll and "CartesianProduct" not in hll

    cms = qs["sketch_cms_freq"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in cms
    assert "BroadcastHashJoin" in cms
    assert "SortMergeJoin" not in cms

    quant = qs["token_len_quantiles"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in quant
    assert "BroadcastNestedLoopJoin" in quant or "BroadcastHashJoin" in quant

    mix = qs["mixture_temperature_weights"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in mix and "CartesianProduct" not in mix


def test_sketch_setops_plan_shapes(spark):
    """Sketch set algebra must never join the two corpora: both the KMV
    overlap (tagged union → bounded groupBy → TakeOrdered k) and the HLL
    merge (tagged union → ≤2·2^b-key groupBy → per-bucket max) stay
    join-free end to end."""
    from crawl4ai_scraper_spark import contract

    sf = "/root/testdata/sf0.001"
    qs = contract.queries()

    kmv = qs["sketch_kmv_overlap"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in kmv and "CartesianProduct" not in kmv
    assert "TakeOrderedAndProject" in kmv

    hll = qs["sketch_hll_setops"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in hll and "CartesianProduct" not in hll

    # heavy hitters: the screen is a literal-array lookup projection — the
    # executed plan has NO Join of any kind, and exactly two aggregates
    # (the verify count; the synopsis build ran as a separate bounded job).
    hh = qs["heavy_hitter_bigrams"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in hh and "CartesianProduct" not in hh


def test_lr_train_broadcast_weights_no_sortmerge(spark):
    """LR training: the 64-row weight table enters via BroadcastHashJoin —
    the corpus-volume feature table must never shuffle FOR A JOIN (its only
    hash exchanges are the doc-keyed margin agg / residual join and the
    64-key gradient agg, both with partial aggregation)."""
    from crawl4ai_scraper_spark.operators.classifier import lr_score, lr_train

    feats = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 16).cast("int").alias("dim"),
        (F.col("id") % 5 + 1).cast("int").alias("value"),
    )
    lbl = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 2).cast("int").alias("y")
    )
    w = lr_train(feats, lbl, dim=16, steps=1)
    plan = _plan(lr_score(feats, w))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_cdc_chunks_single_doc_window_exchange(spark):
    """CDC chunking: the token stream crosses doc-keyed exchanges only (the
    boundary-count window and the chunk reassembly agg) — no joins, no
    non-doc shuffle, and partial aggregation before the reassembly."""
    from crawl4ai_scraper_spark.operators.dedup import cdc_chunks

    docs = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta "), F.col("id").cast("string")).alias("text"),
    )
    plan = _plan(cdc_chunks(docs))
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "doc_id" in line, line


def test_doc_novelty_two_aggs_no_gram_self_join(spark):
    """Novelty: two map-side-combined aggs of the (doc, gram) stream joined
    doc-to-doc at one row per doc — the gram table never joins against
    itself (no gram-keyed join, no SortMergeJoin on gram)."""
    from crawl4ai_scraper_spark.operators.textops import doc_novelty

    docs = spark.range(80).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w1 w2 w3 w4 w"), (F.col("id") % 9).cast("string")).alias("text"),
    )
    plan = _plan(doc_novelty(docs, n=3))
    assert "partial_count" in plan
    for line in plan.splitlines():
        if "Join" in line and "gram" in line:
            raise AssertionError(f"gram-keyed join found: {line}")


def test_readability_zero_exchange_pure_projection(spark):
    """Readability is a pure projection: no Exchange, no Generate, no
    Python — the whole thing stays inside codegen over the scan."""
    from crawl4ai_scraper_spark.operators.textops import readability

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.lit("The cat sat. It ran away!").alias("text"),
    )
    plan = _plan(readability(docs))
    assert "Exchange" not in plan
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # executedPlan().toString() marks whole-stage-codegen spans with "*(n)"
    assert "*(" in plan


def test_gram_matrix_no_join_one_exchange(spark):
    """Gram: the d² products are a flattened codegen array per row — NO
    self-join of an exploded table; exactly one hash exchange (the (i,j)
    groupBy) with partial aggregation before it."""
    from crawl4ai_scraper_spark.operators.similarity import gram_matrix

    emb = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (k + 2)).cast("float") for k in range(8)]).alias(
            "embedding"
        ),
    )
    plan = _plan(gram_matrix(emb, dim=8))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in plan


def test_fuzzy_decontaminate_broadcasts_eval_side(spark):
    """Eval-set decontamination: the benchmark side enters the band join and
    the shingle verify via BROADCAST joins — the training corpus must never
    SortMerge against the eval set."""
    from crawl4ai_scraper_spark.operators.dedup import fuzzy_decontaminate

    evals = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(4)],
        "eval_id long, text string",
    )
    train = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i % 4}") for i in range(40)],
        "id long, text string",
    )
    plan = _plan(fuzzy_decontaminate(train, evals, id_col="id"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_winnowing_single_doc_exchange(spark):
    """Winnowing: selection is a doc-keyed running-window MIN — every hash
    exchange keys on the doc id, no joins."""
    from crawl4ai_scraper_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l m n") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(winnowing_fingerprints(docs, "text", "doc_id"))
    assert "Join" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "id" in line, line


def test_scd2_single_window_exchange_no_join(spark):
    from crawl4ai_scraper_spark.operators.temporal import scd2_history

    revs = spark.range(100).select(
        (F.col("id") % 10).alias("url_key"),
        (F.col("id") * 7 % 50).alias("warc_ts"),
        F.col("id").alias("doc_id"),
    )
    plan = _plan(scd2_history(revs, "url_key", "warc_ts", "doc_id"))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_multiprobe_query_side_broadcast(spark):
    """Multi-probe IVF: the exploded query side is broadcast; the corpus is
    never shuffled for the candidate join."""
    from crawl4ai_scraper_spark.operators.similarity import ivf_multiprobe_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(ivf_multiprobe_topk(emb, n_queries=4, k=3, n_probe=2))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
