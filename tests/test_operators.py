"""Extension-operator tests: dedup, similarity, text stats, windows,
multimodal plumbing — on small handcrafted frames with known answers."""

import pytest
import pyspark.sql.functions as F

from mondrian_rest_spark.operators import dedup, multimodal, similarity, textstats, windows


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base + "and then some extra words here"),  # near dup of 1
        (4, "completely different content about spark sql engines "
            "aggregation shuffle partitions broadcast joins " * 6),
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    groups = dedup.exact_duplicate_groups(docs).collect()
    by_keep = {g.keep_id: g.dup_count for g in groups}
    assert by_keep[1] == 2          # docs 1+2 collapse
    assert len(groups) == 4
    kept = dedup.deduplicate_exact(docs).select("doc_id").collect()
    assert {r.doc_id for r in kept} == {1, 3, 4, 5}


def test_neardup_bruteforce(docs):
    pairs = {(r.a_id, r.b_id): r.jaccard
             for r in dedup.neardup_bruteforce(docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0     # identical
    assert (1, 3) in pairs          # near dup
    assert (1, 4) not in pairs


def test_brute_lanes_spread_stream_side(docs, spark, sf_dir, monkeypatch):
    """The brute-force oracles spread the nested-loop join's STREAM
    side on a qualifying (small, under-split) layout — otherwise every
    pairwise evaluation runs on one core (r14 optimization round,
    guide §2.5; measured 425 s -> 28 s for d02 at sf0.1) — and the
    spread changes no values: parquet-backed (spread) and in-memory
    (no inputFiles -> no-op) inputs give identical pair sets."""
    from mondrian_rest_spark.sources import registry
    from mondrian_rest_spark.sources.registry import load_table
    corpus = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def _path(frame):
        path = frame.inputFiles()[0]
        return path[len("file:"):] if path.startswith("file:") else path

    # sf0.001 corpora sit under the 1000-row spread floor: report a
    # qualifying layout (small, 1 row group, enough rows) for both
    # corpora — the same technique as the rebalance-scope test
    qualify = {_path(corpus), _path(emb)}
    real = registry._scan_layout
    monkeypatch.setattr(
        registry, "_scan_layout",
        lambda p: (real(p)[0], 1_000_000, 1) if p in qualify else real(p))
    spread = dedup.neardup_bruteforce(corpus, 0.5)
    assert "RoundRobinPartitioning" in spread._jdf.queryExecution() \
        .executedPlan().toString()
    mem = spark.createDataFrame(corpus.collect(), corpus.schema)
    plain = dedup.neardup_bruteforce(mem, 0.5)
    assert "RoundRobinPartitioning" not in plain._jdf.queryExecution() \
        .executedPlan().toString()
    assert ({(r.a_id, r.b_id, r.jaccard) for r in spread.collect()}
            == {(r.a_id, r.b_id, r.jaccard) for r in plain.collect()})
    es = similarity.embedding_neardup(emb, threshold=0.4)
    assert "RoundRobinPartitioning" in es._jdf.queryExecution() \
        .executedPlan().toString()
    emem = spark.createDataFrame(emb.collect(), emb.schema)
    ep = similarity.embedding_neardup(emem, threshold=0.4)
    assert ({(r.a_id, r.b_id, r.cosine) for r in es.collect()}
            == {(r.a_id, r.b_id, r.cosine) for r in ep.collect()})


def test_neardup_jaccard_prefix_matches_bruteforce(docs, spark, sf_dir):
    # prefix-filter join is EXACT: bit-for-bit the brute-force pairs
    for t in (0.3, 0.5, 1.0):
        brute = {(r.a_id, r.b_id): r.jaccard
                 for r in dedup.neardup_bruteforce(docs, threshold=t).collect()}
        fast = {(r.a_id, r.b_id): r.jaccard
                for r in dedup.neardup_jaccard_prefix(
                    docs, threshold=t).collect()}
        assert fast == brute, f"threshold {t}"
    # and on the real corpus at the d02 threshold
    from mondrian_rest_spark.sources.registry import load_table
    corpus = load_table(spark, sf_dir, "documents")
    brute = {(r.a_id, r.b_id): r.jaccard
             for r in dedup.neardup_bruteforce(corpus, 0.5).collect()}
    fast = {(r.a_id, r.b_id): r.jaccard
            for r in dedup.neardup_jaccard_prefix(corpus, 0.5).collect()}
    assert fast == brute
    with pytest.raises(ValueError):
        dedup.neardup_jaccard_prefix(docs, threshold=0.0)


def test_jaccard_index_cross_pairs_exact(docs, spark):
    # index docs 1-3, query 4-5 + a NEW near-dup of doc 1 whose grams
    # are partly unseen by the frozen frequency order — recall must
    # survive the stale order (correctness needs only consistency)
    base = "the quick brown fox jumps over the lazy dog " * 8
    corpus = docs.filter("doc_id <= 3")
    new = docs.filter("doc_id >= 4").union(spark.createDataFrame(
        [(9, base + "with brand new unseen suffix words appended")],
        ["doc_id", "text"]))
    pre, sh, freq = dedup.build_jaccard_index(corpus, threshold=0.5)
    got = {(r.new_id, r.hist_id): r.jaccard
           for r in dedup.neardup_pairs_against_jaccard_index(
               new, pre, sh, freq, 0.5, 0.5).collect()}
    # brute cross reference
    sa = dedup.with_shingles(new).select(
        F.col("doc_id").alias("new_id"), F.col("shingles").alias("sa"))
    sb = dedup.with_shingles(corpus).select(
        F.col("doc_id").alias("hist_id"), F.col("shingles").alias("sb"))
    exp = {(r.new_id, r.hist_id): r.jaccard
           for r in sa.crossJoin(sb)
           .withColumn("jaccard", F.round(
               F.size(F.array_intersect("sa", "sb")) /
               F.size(F.array_union("sa", "sb")), 6))
           .filter("jaccard >= 0.5").collect()}
    assert got == exp and (9, 1) in got
    # querying below the build threshold would silently lose recall
    with pytest.raises(ValueError, match="below the index build"):
        dedup.neardup_pairs_against_jaccard_index(
            new, pre, sh, freq, threshold=0.3, index_threshold=0.5)


def test_neardup_jaccard_prefix_boundary_sizes(spark):
    # exact-boundary length ratio: |A|=4 grams, |B|=2 grams, J=0.5 —
    # a float-epsilon ceil overshoot would drop the pair
    a_text = "w1 w2 w3 w4 w5 w6"            # grams: 4
    b_text = "w1 w2 w3 w4"                  # grams: 2 (subset)
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], ["doc_id", "text"])
    got = dedup.neardup_jaccard_prefix(df, threshold=0.5).collect()
    assert [(r.a_id, r.b_id, r.jaccard) for r in got] == [(1, 2, 0.5)]


def test_jaccard_prefix_skew_guard(spark, docs):
    """VERDICT r9 #2: a template shingle shared corpus-wide lands in
    every prefix (short docs, low threshold) and its bucket alone is
    quadratic in TRUE candidates — the guard must fail loud naming the
    shingle; telemetry must surface the bucket; the guarded path must
    stay bit-identical on a normal corpus."""
    # 2,000 docs of 4 words sharing the leading trigram: prefix length
    # at t=0.5 covers BOTH shingles, so the shared one buckets 2,000
    # docs (~2M candidate pairs for a 2,000-doc corpus)
    skew = spark.createDataFrame(
        [(i, f"alpha beta gamma tail{i}") for i in range(2000)],
        ["doc_id", "text"])
    with pytest.raises(dedup.PrefixSkewError, match="alpha beta gamma"):
        dedup.neardup_jaccard_prefix(
            skew, threshold=0.5, max_candidates_per_prefix=500).collect()
    try:
        dedup.neardup_jaccard_prefix(
            skew, threshold=0.5, max_candidates_per_prefix=500).collect()
    except dedup.PrefixSkewError as e:
        assert e.cap == 500
        assert e.buckets[0] == ("alpha beta gamma", 2000)
    # telemetry names the hot bucket with its candidate-pair estimate
    stats = dedup.jaccard_prefix_bucket_stats(
        skew, threshold=0.5, top=3).collect()
    assert stats[0]["shingle"] == "alpha beta gamma"
    assert stats[0]["bucket_size"] == 2000
    assert stats[0]["candidate_pairs"] == 2000 * 1999 // 2


def test_dedup_request_frames_unpersist(spark, docs):
    """ADVICE r10: the self-join persist frames are request-scoped —
    the result carries them as a tag so a long-running server can free
    the cached blocks after materializing; the PrefixSkewError raise
    path must not leak the frames it just persisted."""
    from pyspark.storagelevel import StorageLevel

    none = StorageLevel(False, False, False, False, 1)
    for build in (
            lambda: dedup.neardup_minhash_lsh(docs, threshold=0.5),
            lambda: dedup.neardup_simhash(docs, max_hamming=3),
            lambda: dedup.neardup_jaccard_prefix(docs, threshold=0.5),
            lambda: dedup.deduplicate_neardup(docs, threshold=0.5)):
        df = build()
        tagged = list(getattr(df, "_mrs_request_persisted", []))
        assert tagged, "result must carry its persisted inputs"
        df.collect()
        assert all(t.storageLevel != none for t in tagged)
        dedup.unpersist_request_frames(df)
        assert all(t.storageLevel == none for t in tagged)
        assert not df._mrs_request_persisted   # idempotent re-call ok
        dedup.unpersist_request_frames(df)
    # skew-guard raise path: frames freed before the error propagates
    skew = spark.createDataFrame(
        [(i, f"alpha beta gamma tail{i}") for i in range(2000)],
        ["doc_id", "text"])
    before = {rdd_id for rdd_id in
              spark.sparkContext._jsc.getPersistentRDDs().keySet()
              .toArray()}
    with pytest.raises(dedup.PrefixSkewError):
        dedup.neardup_jaccard_prefix(
            skew, threshold=0.5, max_candidates_per_prefix=500)
    after = {rdd_id for rdd_id in
             spark.sparkContext._jsc.getPersistentRDDs().keySet()
             .toArray()}
    assert after <= before, "skew-guard raise leaked persisted frames"
    # a normal corpus under the guard: completes, bit-identical
    brute = {(r.a_id, r.b_id): r.jaccard
             for r in dedup.neardup_bruteforce(docs, 0.5).collect()}
    guarded = {(r.a_id, r.b_id): r.jaccard
               for r in dedup.neardup_jaccard_prefix(
                   docs, 0.5, max_candidates_per_prefix=10_000).collect()}
    assert guarded == brute


def test_decontaminate_drops_eval_neardups(spark):
    ev = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"])
    train = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy cat today"),  # dup
         (11, "a completely unrelated training document about math"),
         (12, "the quick brown fox jumps over the lazy dog today")],  # exact
        ["doc_id", "text"])
    pairs = dedup.contamination_pairs(train, ev, threshold=0.5).collect()
    assert {(r.train_id, r.eval_id) for r in pairs} == {(10, 1), (12, 1)}
    clean = dedup.decontaminate(train, ev, threshold=0.5)
    assert [r.doc_id for r in clean.collect()] == [11]


def test_minhash_lsh_matches_bruteforce(docs):
    brute = {(r.a_id, r.b_id) for r in
             dedup.neardup_bruteforce(docs, threshold=0.5).collect()}
    lsh = {(r.a_id, r.b_id) for r in
           dedup.neardup_minhash_lsh(docs, threshold=0.5).collect()}
    assert lsh == brute


def test_neardup_clusters_and_keep_one(spark, docs):
    # crafted graph: chain 1-2, 2-3 (one component), 4-5, 6 singleton
    ids = spark.createDataFrame([(i,) for i in range(1, 7)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["a_id", "b_id"])
    got = {r.doc_id: r.cluster
           for r in dedup.neardup_clusters(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
    kept = {r.doc_id
            for r in dedup.deduplicate_neardup(docs).select("doc_id").collect()}
    # docs 1/2/3 are one near-dup cluster -> min id 1 survives
    assert 1 in kept and 2 not in kept and 3 not in kept


def test_minhash_s_curve_no_misses_above_margin(spark):
    """Decision-boundary pin (dedup.py S-curve table): every pair with
    exact jaccard >= threshold+0.1 MUST appear in the LSH output — at
    32 hashes / 16 bands the analytic miss probability there is
    <= 7.9e-4, and the pipeline is fully deterministic (fixed hash
    seeds), so this either always passes or flags a real regression."""
    words = [f"w{i:03d}" for i in range(200)]
    rows, did = [], 0
    for frac in range(50, 100, 5):       # 50%..95% token overlap pairs
        n = 100
        shared = (n * frac) // 100
        a = words[:n]
        b = words[:shared] + [f"x{frac}u{i}" for i in range(n - shared)]
        rows += [(did, " ".join(a)), (did + 1, " ".join(b))]
        did += 2
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    brute = {(r.a_id, r.b_id): r.jaccard
             for r in dedup.neardup_bruteforce(df, threshold=0.5).collect()}
    lsh = {(r.a_id, r.b_id)
           for r in dedup.neardup_minhash_lsh(df, threshold=0.5).collect()}
    must_find = {k for k, j in brute.items() if j >= 0.6}
    assert must_find, "corpus must contain pairs above the margin"
    assert must_find <= lsh, f"missed: {must_find - lsh}"


def test_simhash_identical_and_banding(docs):
    pairs = {(r.a_id, r.b_id): r.hamming
             for r in dedup.neardup_simhash(docs, max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0       # identical text -> identical simhash


def test_clean_corpus_pipeline(spark):
    """Composed cleaning pipeline: exact dup removed, near-dup cluster
    keeps min id, then quality and language gates filter the rest."""
    from mondrian_rest_spark.operators import pipeline
    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks into the house with all of them today again") * 2
    rows = [
        (1, good),
        (2, good),                                  # exact dup -> dropped
        (3, good + " and some more words to share here"),  # near dup -> dropped
        (4, "der hund und die katze ist nicht da oder doch "
            "aber dann war es die maus im haus von dem mann " * 3),  # german
        (5, "x! y? z. a, b; c: d! e? f."),          # junk punctuation
        (6, "completely different english text about the spark engine "
            "and the data it processes with all of those documents "
            "running through the pipeline for a while longer today"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r.doc_id: (r.quality, r.predicted_lang)
            for r in pipeline.clean_corpus(docs).collect()}
    assert set(kept) == {1, 6}
    assert all(q >= 0.75 and lang == "en" for q, lang in kept.values())


def test_clean_corpus_frees_all_request_pins(spark):
    """r14 optimization round: deduplicate_exact pins its keeper-ID
    frame (so composers stop re-running the md5-of-full-text groupBy
    per consumer) and clean_corpus re-tags every request pin on the
    handle it RETURNS — deriving filter/select off the tagged frame
    used to drop the tag, so each c01 request leaked its cluster-label
    and edge pins for the session lifetime.  Contract: materialize +
    unpersist_request_frames leaves ZERO new persistent RDDs."""
    from mondrian_rest_spark.operators import pipeline
    docs = spark.createDataFrame(
        [(i, f"document number {i} with plenty of distinct english "
             f"words to pass the shingle floor {i}") for i in range(30)],
        ["doc_id", "text"])
    before = {rdd_id for rdd_id in
              spark.sparkContext._jsc.getPersistentRDDs().keySet()
              .toArray()}
    # deduplicate_exact alone: result carries the keeper pin
    kept_exact = dedup.deduplicate_exact(docs)
    assert getattr(kept_exact, "_mrs_request_persisted", []), \
        "deduplicate_exact must tag its keeper-ID pin"
    kept_exact.collect()
    dedup.unpersist_request_frames(kept_exact)
    # the composed pipeline: pins propagate through deduplicate_neardup
    # and clean_corpus to the returned handle, and freeing them leaves
    # no residue
    out = pipeline.clean_corpus(docs)
    assert getattr(out, "_mrs_request_persisted", []), \
        "clean_corpus must carry its request pins to the returned frame"
    out.collect()
    dedup.unpersist_request_frames(out)
    # the d07 composition: neardup_clusters itself frees the pair
    # pipeline's pins once the propagation rounds materialized them
    pairs = dedup.neardup_minhash_lsh(docs, threshold=0.5)
    clusters = dedup.neardup_clusters(docs, pairs, "doc_id")
    assert not getattr(pairs, "_mrs_request_persisted", []), \
        "neardup_clusters must free the pair pipeline's pins"
    clusters.collect()
    dedup.unpersist_request_frames(clusters)
    after = {rdd_id for rdd_id in
             spark.sparkContext._jsc.getPersistentRDDs().keySet()
             .toArray()}
    assert after <= before, "composed dedup paths leaked persisted frames"


def test_cosine_topk(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.8, 0.6, 0.0]),
            (4, [-1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity.cosine_topk(df, query_vec_id=0, k=3).collect()
    assert [r.vec_id for r in top] == [1, 3, 2]
    assert top[0].cosine == 1.0
    assert top[1].cosine == pytest.approx(0.8, abs=1e-6)


def test_ann_lsh_bucket_recall_self(spark, sf_dir):
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ann_topk_lsh(emb, query_vec_id=7, k=10)
    rows = out.collect()
    # approximate: bucket restriction may return fewer than k, but
    # whatever it returns must be genuinely ranked by cosine
    vals = [r.cosine for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_ann_ivf_probe_recall(spark, sf_dir):
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    exact = [r.vec_id for r in
             similarity.cosine_topk(emb, query_vec_id=7, k=10).collect()]
    approx = similarity.ann_topk_ivf(emb, query_vec_id=7, k=10).collect()
    vals = [r.cosine for r in approx]
    assert vals == sorted(vals, reverse=True)   # genuinely ranked
    # probing 4/16 cells must still recover a useful share of the
    # exact top-10 (deterministic centroids -> stable assertion)
    assert len(set(r.vec_id for r in approx) & set(exact)) >= 3


def test_ann_ivf_plan_has_no_window(spark, sf_dir):
    """IVF cell assignment must be one hash aggregate (min_by), never a
    row_number window over the whole corpus (full shuffle + per-id sort
    — the r1/r2 scale-killer)."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (similarity.ann_topk_ivf(emb, query_vec_id=7, k=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan


def _query_set(emb, ids):
    import pyspark.sql.functions as F
    return (emb.filter(F.col("vec_id").isin(ids))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


def test_ann_batch_lsh_matches_single_query(spark, sf_dir):
    """Batched query-set serving must return, per query id, exactly the
    single-query ann_topk_lsh result — same buckets, same ranking."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [3, 7, 23]
    batch = similarity.ann_batch_topk_lsh(
        emb, _query_set(emb, ids), k=5, num_planes=6).collect()
    for qid in ids:
        single = similarity.ann_topk_lsh(
            emb, query_vec_id=qid, k=5, num_planes=6).collect()
        got = [(r.vec_id, r.cosine) for r in batch if r.query_id == qid]
        assert got == [(r.vec_id, r.cosine) for r in single]


def test_ann_batch_ivf_matches_single_query(spark, sf_dir):
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [3, 7, 23]
    batch = similarity.ann_batch_topk_ivf(
        emb, _query_set(emb, ids), k=5).collect()
    for qid in ids:
        single = similarity.ann_topk_ivf(emb, query_vec_id=qid, k=5).collect()
        got = [(r.vec_id, r.cosine) for r in batch if r.query_id == qid]
        assert got == [(r.vec_id, r.cosine) for r in single]


def test_ann_batch_lsh_plan_is_one_bucket_join(spark, sf_dir):
    """The whole query set must be served by ONE equi-join keyed on the
    bucket id — no per-query jobs, no cartesian candidate stage."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    plan = (similarity.ann_batch_topk_lsh(
                emb, _query_set(emb, [3, 7, 23]), k=5, num_planes=6)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan, plan
    assert "bucket" in plan
    # joins in the plan: the bucket equi-join (+ broadcast of the tiny
    # query side at most) — nothing per-query
    assert plan.count("Join") <= 2, plan


def test_ann_batch_layout_matches_in_plan_and_values(spark, sf_dir, tmp_path):
    """Batched serving from the cell-partitioned layout must return
    exactly what the in-plan batched IVF returns, and the corpus scan
    must be dynamically partition-pruned by the probe list (the whole
    point of the layout: scan n_probe/n_cells of the data)."""
    import pyspark.sql.functions as F

    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "emb")
    similarity.materialize_ivf(emb, path)
    qs = _query_set(emb, [3, 7, 23])
    from_layout = similarity.ann_batch_topk_from_layout(
        spark, path, qs, k=5)
    in_plan = similarity.ann_batch_topk_ivf(emb, qs, k=5).collect()
    assert sorted(map(tuple, from_layout.collect())) == \
        sorted(map(tuple, in_plan))
    plan = from_layout._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_ivf_append_serves_new_vectors(spark, sf_dir, tmp_path):
    """Incremental layout maintenance: vectors appended against the
    stored centroids are complete (each appears exactly once) and
    immediately retrievable — a probe with an appended vector's own
    embedding returns it at cosine 1."""
    import pyspark.sql.functions as F

    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    extra = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "emb")
    similarity.materialize_ivf(base, path)
    n = similarity.append_to_ivf(spark, path, extra)
    assert n == extra.count()
    ids = [r.vec_id for r in spark.read.parquet(path).select("vec_id").collect()]
    assert len(ids) == emb.count() and len(set(ids)) == len(ids)
    probe_vec = list(extra.select("embedding").first()[0])
    probe_id = extra.select("vec_id").first()[0]
    top = similarity.ann_topk_ivf_from_layout(
        spark, path, probe_vec, k=1).collect()
    assert top[0].vec_id == probe_id and top[0].cosine == 1.0


def test_approx_operators_duckdb_parity(spark, sf_dir, duck):
    """The approximate operators are engine-portable by design (integer
    quantization + literal hyperplanes + md5-digit token hashes): the
    DuckDB oracle must reproduce them EXACTLY, not just statistically.
    Mirrors the driver's sf0.01 gate at sf0.001."""
    import __spark_entry__ as entry

    qs, oracles = entry.queries(), entry.oracle_sql()
    for name in ("d04_neardup_simhash", "d06_embedding_neardup_lsh",
                 "s02_ann_lsh_topk", "s03_ann_ivf_topk"):
        sdf = qs[name](spark, sf_dir).toPandas()
        ddf = duck.execute(oracles[name]).fetchdf()
        cols = sorted(sdf.columns)
        assert cols == sorted(ddf.columns), name
        a = sdf[cols].sort_values(cols, ignore_index=True)
        b = ddf[cols].sort_values(cols, ignore_index=True)
        assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
        for c in cols:
            assert (a[c].astype(float) - b[c].astype(float)).abs().max() \
                <= 1e-12, f"{name}.{c}"


def test_ivf_layout_partition_pruned_probe(spark, sf_dir, tmp_path):
    """The 100 TB ANN path: materialize_ivf writes the corpus
    partitioned by cell_id; a probe scans only the n_probe chosen
    partitions (PartitionFilters in the scan, no per-query assignment
    stage) and returns exactly what the inline IVF path returns."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_layout")
    similarity.materialize_ivf(emb, path)
    qvec = [r.embedding for r in
            emb.filter(F.col("vec_id") == 7).collect()][0]
    out = similarity.ann_topk_ivf_from_layout(spark, path, list(qvec), k=11)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan, plan
    assert "Window" not in plan
    # same candidates as the inline path (query vec id 7 included here,
    # excluded there -> compare on the rest)
    inline = {(r.vec_id, r.cosine) for r in
              similarity.ann_topk_ivf(emb, query_vec_id=7, k=10).collect()}
    layout = {(r.vec_id, r.cosine) for r in out.collect() if r.vec_id != 7}
    assert layout == inline


def test_recommended_lsh_config():
    """Plane count grows with corpus size (candidate volume bound);
    tables compensate recall; tiny corpora keep the demo floor."""
    import math
    p_small, t_small = similarity.recommended_lsh_config(500, threshold=0.9)
    p_big, t_big = similarity.recommended_lsh_config(10**9, threshold=0.9)
    assert p_small >= 3 and p_big > p_small
    assert 2 ** p_big >= 10**9 / 16          # candidates stay ~linear
    # achieved recall meets the target for the returned config
    p = 1.0 - math.acos(0.9) / math.pi
    assert 1 - (1 - p ** p_big) ** t_big >= 0.9
    # lower threshold -> lower per-table collision prob -> more tables
    _, t_low = similarity.recommended_lsh_config(10**6, threshold=0.85)
    _, t_hi = similarity.recommended_lsh_config(10**6, threshold=0.9)
    assert t_low > t_hi
    # r10: a low threshold at scale wants a table count whose bucket
    # expressions alone would choke Catalyst — fail loud, not slow
    with pytest.raises(ValueError, match="practicality cap"):
        similarity.recommended_lsh_config(10**9, threshold=0.5)
    with pytest.raises(ValueError, match="practicality cap"):
        similarity.recommended_lsh_config(50_000, threshold=0.45)


def test_embedding_neardup_lsh_recall(spark, sf_dir):
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.a_id, r.b_id): r.cosine for r in
             similarity.embedding_neardup(emb, threshold=0.4).collect()}
    approx = {(r.a_id, r.b_id): r.cosine for r in
              similarity.embedding_neardup_lsh(emb, threshold=0.4).collect()}
    assert set(approx) <= set(exact)            # no false positives
    for k, v in approx.items():
        assert v == exact[k]                    # exact cosine on survivors
    assert len(approx) >= 0.5 * max(len(exact), 1)   # useful recall


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL++, rsd=0.01) must track the exact
    distinct count within a loose 5% on every nation group."""
    from mondrian_rest_spark import tpch
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel

    qm = QueryModel(cube="Sales",
                    measures=["Customer Count", "Approx Customer Count"],
                    drilldown=["Customer.Nation"])
    for r in aggregate(spark, sf_dir, tpch.CATALOG, qm).collect():
        assert abs(r.approx_customer_count - r.customer_count) <= \
            max(2, 0.05 * r.customer_count), r


def test_dense_axes_cell_guard(spark, sf_dir, monkeypatch):
    from mondrian_rest_spark import planner, tpch
    from mondrian_rest_spark.parser import ParseError
    from mondrian_rest_spark.query import QueryModel
    monkeypatch.setattr(planner, "MAX_DENSE_CELLS", 10)
    qm = QueryModel(cube="Orders", measures=["Order Count"],
                    drilldown=["Customer.Region", "Order Status"],
                    nonempty=False)
    with pytest.raises(ParseError, match="dense axes"):
        planner.aggregate(spark, sf_dir, tpch.CATALOG, qm).collect()


def test_embedding_neardup_threshold(spark):
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r.a_id, r.b_id) for r in
             similarity.embedding_neardup(df, threshold=0.9).collect()}
    assert pairs == {(0, 1)}


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "hello world foo")], ["doc_id", "text"])
    r = textstats.token_stats(df).collect()[0]
    assert r.n_tokens == 3
    assert r.n_chars_measured == 15
    assert r.chars_per_token == 5.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house"),
         (2, "der hund und die katze ist nicht da"),
         (3, "xyzzy qwerty")],
        ["doc_id", "text"])
    out = {r.doc_id: r.predicted_lang for r in textstats.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "unknown"}


def test_quality_score_components(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again today")],
        ["doc_id", "text"])
    r = textstats.quality_score(df).collect()[0]
    assert r.n_tokens == 11
    assert r.punct_ratio == 0.0
    assert r.quality == 1.0


def test_stacked_columns_match_join_form(spark, docs):
    # r14 optimization: composers stack with_quality_columns /
    # with_language_columns on ONE frame instead of joining each
    # operator's (id, score) select back by id.  Pin row-identity of
    # the stacked form against the old join shape.
    joined = (textstats.quality_score(docs)
              .join(textstats.language_id(docs).select(
                  "doc_id", "predicted_lang"), "doc_id"))
    stacked = textstats.with_language_columns(
        textstats.with_quality_columns(docs, "text"), "text")
    cols = ["doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
            "mean_word_len", "quality", "predicted_lang"]
    a = sorted(map(tuple, joined.select(cols).collect()))
    b = sorted(map(tuple, stacked.select(cols).collect()))
    assert a == b


def test_train_pq_matches_per_subspace_training(spark, sf_dir):
    # r14 optimization: train_pq fuses all m subspace k-means into one
    # job per iteration.  The codebooks must be BIT-identical to
    # training each subspace independently via train_ivf_centroids
    # (the pre-r14 shape), because pq_encode/pq_topk goldens depend on
    # them.
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    m, ks, iters, dim = 4, 8, 2, 64
    sub = dim // m
    fused = similarity.train_pq(emb, m=m, ks=ks, iters=iters)
    for j in range(m):
        proj = emb.select(F.col("vec_id"),
                          F.slice(F.col("embedding"), j * sub + 1, sub)
                           .alias("__sub"))
        cents = similarity.train_ivf_centroids(
            proj, n_cells=ks, iters=iters, id_col="vec_id",
            vec_col="__sub", dim=sub)
        assert [vec for _, vec in sorted(cents)] == fused[j], f"subspace {j}"


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"])
    fp = {r.doc_id: r.fingerprint for r in textstats.fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_tumbling_and_session_windows(spark):
    rows = [
        (1, "2024-01-01 00:05:00", 10, 1.0),
        (2, "2024-01-01 00:20:00", 10, 2.0),   # same session (15m gap)
        (3, "2024-01-01 02:00:00", 10, 3.0),   # new session
        (4, "2024-01-02 00:00:00", 20, 4.0),   # next day
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "value"]) \
              .withColumn("ts", F.to_timestamp("ts"))
    t = {str(r.win_start): r.event_count
         for r in windows.tumbling(df, "1 day").collect()}
    assert t == {"2024-01-01 00:00:00": 3, "2024-01-02 00:00:00": 1}
    s = windows.sessionized(df, "30 minutes").collect()
    per_user = sorted((r.user_id, r.event_count) for r in s)
    assert per_user == [(10, 2), (10, 1), (20, 1)] or \
           per_user == [(10, 1), (10, 2), (20, 1)]
    sl = windows.sliding(df, "2 days", "1 day").collect()
    # event on Jan 2 belongs to windows starting Jan 1 and Jan 2
    counts = {str(r.win_start): r.event_count for r in sl}
    assert counts["2024-01-01 00:00:00"] == 4


def test_multimodal_feature_extraction(spark):
    """PNG/WAV payloads are REALLY decoded inside the mapInPandas
    batch fn (r6 VERDICT item 4): dims and mean pixel come out of the
    inflate+unfilter pipeline and must match the construction; opaque
    'video' bytes still flow through the labeled stub fallback."""
    media = multimodal.synthetic_media(spark, n=16)
    feats = multimodal.extract_features(media)
    assert feats.schema == multimodal.FEATURE_SCHEMA
    rows = {r.media_id: r for r in feats.collect()}
    assert len(rows) == 16
    assert all(r.n_bytes > 0 for r in rows.values())
    for i, r in rows.items():
        if r.kind == "image":                    # real PNG decode
            w, h = 4 + i % 13, 3 + i % 7
            assert (r.width, r.height, r.channels) == (w, h, 3)
            px = [(i + j) % 256 for j in range(w * h * 3)]
            assert r.mean_px == pytest.approx(sum(px) / len(px))
        elif r.kind == "audio":                  # real WAV decode
            assert (r.width, r.height, r.channels) == (0, 0, 1)
            assert r.mean_px is not None and r.mean_px > 0
        else:                                    # stub fallback
            assert r.width >= 64 and r.channels == 0 and r.mean_px is None
    # deterministic: same payload -> same checksum across runs
    again = {r.media_id: r.checksum for r in multimodal.extract_features(media).collect()}
    assert all(again[mid] == r.checksum for mid, r in rows.items())


def test_media_codec_png_all_filters():
    """The PNG decoder honors every spec filter type (0-4), not just
    our encoder's filter-0 output: forward-filter known pixels per
    spec §9, assemble the PNG by hand, decode, compare bit-exactly."""
    import struct
    import zlib

    from mondrian_rest_spark.operators import media_codec

    w, h, ch = 5, 5, 3
    stride = w * ch
    pixels = bytes((11 * i + 7) % 256 for i in range(w * h * ch))

    def fwd(ftype, line, prev):
        out = bytearray(stride)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if ftype == 0:
                p = 0
            elif ftype == 1:
                p = left
            elif ftype == 2:
                p = up
            elif ftype == 3:
                p = (left + up) >> 1
            else:
                p = media_codec._paeth(left, up, ul)
            out[i] = (line[i] - p) & 0xFF
        return bytes(out)

    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = pixels[y * stride:(y + 1) * stride]
        ftype = y % 5                            # use every filter once
        raw += bytes([ftype]) + fwd(ftype, line, prev)
        prev = line

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    png = (media_codec.PNG_SIG
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    assert media_codec.png_decode(png) == (w, h, ch, pixels)

    # encoder output round-trips and is spec-valid for the decoder
    enc = media_codec.png_encode(pixels, w, h, ch)
    assert media_codec.png_decode(enc) == (w, h, ch, pixels)
    # greyscale + RGBA paths
    grey = bytes(range(16))
    assert media_codec.png_decode(
        media_codec.png_encode(grey, 4, 4, 1)) == (4, 4, 1, grey)
    rgba = bytes((i * 3) % 256 for i in range(2 * 2 * 4))
    assert media_codec.png_decode(
        media_codec.png_encode(rgba, 2, 2, 4)) == (2, 2, 4, rgba)


def test_media_codec_wav_roundtrip():
    from mondrian_rest_spark.operators import media_codec

    samples = [0, 100, -100, 32767, -32768, 5]
    wav = media_codec.wav_encode(samples, sample_rate=22050)
    assert media_codec.wav_decode(wav) == (22050, 1, samples)
    assert media_codec.sniff(wav) == "wav"
    assert media_codec.sniff(media_codec.png_encode(b"\0\0\0", 1, 1, 3)) \
        == "png"
    assert media_codec.sniff(b"garbage") == "unknown"


def test_multimodal_frame_sample(spark):
    media = multimodal.synthetic_media(spark, n=6)
    frames = multimodal.frame_sample(media, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 6 * 4                       # exact fan-out
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, fr in by_media.items():
        assert sorted(f.frame_idx for f in fr) == [0, 1, 2, 3]
        offsets = [f.frame_offset for f in sorted(fr, key=lambda x: x.frame_idx)]
        assert offsets == sorted(offsets)           # evenly forward-spaced
        assert all(isinstance(f.frame_payload, (bytes, bytearray)) for f in fr)


def test_multimodal_resize_png_real(spark):
    """resize_images is REAL for PNG now: nearest-neighbor resample
    through decode -> index map -> re-encode; output payloads decode
    at the target dims with pixels drawn from the source grid."""
    from mondrian_rest_spark.operators import media_codec

    media = multimodal.synthetic_media(spark, n=7).filter("kind = 'image'")
    out = {r.media_id: r.payload
           for r in multimodal.resize_images(media, 3, 2).collect()}
    src = {r.media_id: r.payload for r in media.collect()}
    assert out
    for mid, payload in out.items():
        w, h, ch, px = media_codec.png_decode(bytes(payload))
        assert (w, h, ch) == (3, 2, 3)
        w0, h0, _, px0 = media_codec.png_decode(bytes(src[mid]))
        # corner pixel maps to source (0,0) under nearest-neighbor
        assert px[:3] == px0[:3]

    # non-PNG payloads still raise the labeled stub error
    vid = multimodal.synthetic_media(spark, n=3).filter("kind = 'video'")
    with pytest.raises(Exception) as exc_info:
        multimodal.resize_images(vid, 32, 32).collect()
    assert "NotImplementedError" in str(exc_info.value) or \
           isinstance(exc_info.value, NotImplementedError)


def test_approx_median_within_tolerance(spark, sf_dir):
    """approx_percentile sketch path vs the exact median measure: rank
    error at accuracy=10000 keeps the value within 1% at this scale."""
    from mondrian_rest_spark.planner import aggregate
    from mondrian_rest_spark.query import QueryModel
    from mondrian_rest_spark.tpch import CATALOG
    df = aggregate(spark, sf_dir, CATALOG, QueryModel(
        cube="Sales", measures=["Median Price", "Approx Median Price"],
        drilldown=["Return Flag"]))
    for r in df.collect():
        assert abs(r["approx_median_price"] - r["median_price"]) \
            <= 0.01 * abs(r["median_price"])


def test_top_tokens_and_length_histogram(spark):
    from mondrian_rest_spark.operators import textstats
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b"), (3, "  a  ")], ["doc_id", "text"])
    top = textstats.top_tokens(df, k=2).collect()
    assert [(r.token, r.occurrences) for r in top] == [("a", 4), ("b", 2)]
    hist = textstats.length_histogram(df, bucket_tokens=2).collect()
    assert {(r.bucket_lo, r.n_docs) for r in hist} == {(0, 1), (2, 1), (4, 1)}


def test_top_docs_and_token_budget_pack(spark):
    from mondrian_rest_spark.operators import pipeline
    rows = [(i, ("the and is of to " * 4) + f"doc{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    top = pipeline.top_docs_per_stratum(df, k=5).collect()
    assert len(top) == 5                      # one stratum (all en)
    assert [r.lang_rank for r in
            sorted(top, key=lambda r: r.doc_id)] == [1, 2, 3, 4, 5]
    packed = pipeline.pack_token_budget(df, budget_tokens=50).collect()
    # 21 tokens per doc; budget 50 -> docs while cum-21 < 50 -> 3 docs
    assert len(packed) == 3
    assert max(r.cum_tokens for r in packed) == 63
    # budget is always reached when data exists (last doc crosses it)
    assert max(r.cum_tokens for r in packed) >= 50
    df = spark.createDataFrame(
        [(1, "the cat and the dog of the house sat on all of them here"),
         (2, "der hund und die katze ist nicht da oder doch von dem mann"),
         (3, "zz qq")],
        ["doc_id", "text"])
    r = textstats.corpus_stats(df).collect()[0]
    assert r.n_docs == 3
    assert r.total_tokens == 14 + 13 + 2
    assert (r.n_en, r.n_de, r.n_unknown) == (1, 1, 1)
    assert 0.0 <= r.mean_quality <= 1.0


def test_stratified_sample_deterministic_and_rated(spark):
    """Per-stratum keep rates hold in expectation AND the kept set is
    identical across runs/partitionings (unlike sampleBy)."""
    from mondrian_rest_spark.operators import sampling
    rows = [(i, "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out1 = {r.doc_id for r in sampling.stratified_sample(
        df, "lang", {"a": 0.5, "b": 0.1}).collect()}
    out2 = {r.doc_id for r in sampling.stratified_sample(
        df.repartition(7), "lang", {"a": 0.5, "b": 0.1}).collect()}
    assert out1 == out2                       # partitioning-independent
    a = sum(1 for i in out1 if i % 2)
    b = len(out1) - a
    assert 400 <= a <= 600                    # ~50% of 1000
    assert 50 <= b <= 160                     # ~10% of 1000
    # default_frac keeps nothing unless raised
    none = sampling.stratified_sample(df, "lang", {}, default_frac=0.0)
    assert none.count() == 0


def test_deterministic_split(spark):
    from mondrian_rest_spark.operators import sampling
    df = spark.createDataFrame([(i, f"doc {i}") for i in range(2000)],
                               ["doc_id", "text"])
    a = {r.doc_id: r.split for r in
         sampling.with_split(df, val_frac=0.2).collect()}
    b = {r.doc_id: r.split for r in
         sampling.with_split(df.repartition(7), val_frac=0.2).collect()}
    assert a == b                       # partitioning-independent
    frac_val = sum(1 for s in a.values() if s == "val") / len(a)
    assert 0.15 < frac_val < 0.25       # ~20% in expectation
    # a different salt re-draws the split
    c = {r.doc_id: r.split for r in
         sampling.with_split(df, val_frac=0.2, salt="other").collect()}
    assert c != a
    # fractions move boundaries, never swap train<->val arbitrarily:
    # every 10%-val doc is still a val doc at 20%
    d10 = {r.doc_id for r in sampling.with_split(df, val_frac=0.1).collect()
           if r.split == "val"}
    d20 = {r.doc_id for r in sampling.with_split(df, val_frac=0.2).collect()
           if r.split == "val"}
    assert d10 <= d20


def test_ivf_kmeans_trained_centroids(spark, sf_dir, tmp_path):
    """Optional k-means centroid training (VERDICT r5 item 7): Lloyd
    iterations in pure DataFrame ops must (a) not increase the
    quantization objective (integer-mean updates make exact-Lloyd's
    strict-descent guarantee approximate), (b) be deterministic
    across runs (integer math, no RNG state), and (c) serve through the
    unchanged IVF layout with recall >= the hash-picked default at the
    same n_probe (measured on the fixed testdata embeddings: 30 vs 26
    of 50 at build time, asserted as >=)."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")

    init = similarity.train_ivf_centroids(emb, iters=0)   # hash init
    trained = similarity.train_ivf_centroids(emb, iters=3)
    c0 = similarity.ivf_quantization_cost(emb, init)
    c3 = similarity.ivf_quantization_cost(emb, trained)
    # integer-mean Lloyd is only approximately monotone (rounding can
    # plateau), so assert non-increase, not strict descent
    assert c3 <= c0
    assert trained == similarity.train_ivf_centroids(emb, iters=3)

    qids = [3, 7, 23, 41, 55]
    exact = {q: {r.vec_id for r in
                 similarity.cosine_topk(emb, q, k=10).collect()}
             for q in qids}

    def recall(iters):
        path = str(tmp_path / f"ivf_t{iters}")
        similarity.materialize_ivf(emb, path, train_iters=iters)
        hits = 0
        for q in qids:
            vec = list(emb.filter(F.col("vec_id") == q)
                       .select("embedding").first()[0])
            got = {r.vec_id for r in similarity.ann_topk_ivf_from_layout(
                spark, path, vec, k=10, exclude_id=q).collect()}
            hits += len(got & exact[q])
        return hits

    assert recall(3) >= recall(0)


def test_repetition_ratio(spark):
    """Within-doc n-gram repetition: duplicated trigram runs score > 0,
    all-unique and shorter-than-n docs score 0."""
    df = spark.createDataFrame([
        (1, "the cat sat on the mat the cat sat on the mat"),
        (2, "all unique words here today my friend indeed truly"),
        (3, "short doc"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.repetition_ratio(df).collect()}
    assert out[1].total_ngrams == 10 and out[1].distinct_ngrams == 6
    assert out[1].repetition_ratio == pytest.approx(0.4)
    assert out[2].repetition_ratio == 0.0
    assert out[3].total_ngrams == 0 and out[3].repetition_ratio == 0.0


def test_redact_pii(spark):
    """PII scrubbing: emails, IPv4 literals and phone-like digit runs
    become typed placeholders with audit counts; clean text untouched."""
    df = spark.createDataFrame([
        (1, "mail bob.smith+x@example.co.uk or call +1 (555) 123-4567"),
        (2, "server at 192.168.0.1 logged 3 hits"),
        (3, "no pii here at all, just words"),
    ], ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.redact_pii(df).collect()}
    assert out[1].clean_text == "mail <EMAIL> or call <PHONE>"
    assert (out[1].n_emails, out[1].n_phones) == (1, 1)
    assert out[2].clean_text == "server at <IP> logged 3 hits"
    assert out[2].n_ips == 1
    assert out[3].clean_text == "no pii here at all, just words"
    assert (out[3].n_emails, out[3].n_ips, out[3].n_phones) == (0, 0, 0)


def test_pq_compressed_ann(spark, sf_dir, tmp_path):
    """Product quantization (IVF-PQ shape): training is deterministic
    integer k-means per subspace, codes are balanced and in-range, ADC
    top-k recovers a useful share of the exact top-10, and exact-cosine
    re-ranking recovers most of it (measured at build time: 22/50 ADC,
    44/50 rerank-50 on the fixed testdata embeddings — asserted with
    margins).  Layout serving probes partitions and reads only code
    columns until the re-rank."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")

    cb = similarity.train_pq(emb, iters=2)
    assert cb == similarity.train_pq(emb, iters=2)    # deterministic
    assert len(cb) == 16 and all(len(c) == 16 for c in cb)

    codes = similarity.pq_encode(emb, cb)
    rows = codes.collect()
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    # every subspace actually uses its codebook (not collapsed)
    for j in range(16):
        assert len({r.codes[j] for r in rows}) >= 8

    qids = [3, 7, 23, 41, 55]
    exact = {q: {r.vec_id for r in
                 similarity.cosine_topk(emb, q, k=10).collect()}
             for q in qids}
    qvecs = {q: list(emb.filter(F.col("vec_id") == q)
                     .select("embedding").first()[0]) for q in qids}

    def hits(rerank):
        total = 0
        for q in qids:
            out = similarity.pq_topk(
                codes, cb, qvecs[q], k=10, rerank=rerank,
                vectors=emb if rerank else None, exclude_id=q)
            total += len({r.vec_id for r in out.collect()} & exact[q])
        return total

    adc, rr = hits(0), hits(50)
    assert adc >= 15, adc               # measured 22
    assert rr >= 35 and rr >= adc, rr   # measured 44

    # bit-packed codes (r6 VERDICT item 3): ONE bigint per vector,
    # shift/mask ADC returns IDENTICAL top-k to the int-array path —
    # both with and without re-rank
    packed = similarity.pq_encode(emb, cb, packed=True)
    assert dict(packed.dtypes)["code"] == "bigint"
    for q in qids:
        for rk, vecs in ((0, None), (50, emb)):
            a = similarity.pq_topk(codes, cb, qvecs[q], k=10,
                                   rerank=rk, vectors=vecs, exclude_id=q)
            p = similarity.pq_topk(packed, cb, qvecs[q], k=10,
                                   rerank=rk, vectors=vecs, exclude_id=q)
            assert sorted(map(tuple, a.collect())) == \
                sorted(map(tuple, p.collect())), (q, rk)
    # pack/unpack roundtrip is bit-exact (incl. the sign-bit nibble)
    both = (codes.join(packed, "vec_id")
            .selectExpr("codes", "code").collect())
    for r in both:
        assert [(r.code >> (4 * j)) & 15 for j in range(16)] == \
            list(r.codes)

    # IVF-PQ layout: partition-pruned probe over the packed code column
    path = str(tmp_path / "pq_layout")
    cb2 = similarity.materialize_pq(emb, path, iters=2)
    stored = spark.read.parquet(path)
    assert "code" in stored.columns and "codes" not in stored.columns
    assert dict(stored.dtypes)["code"] == "bigint"
    out = similarity.pq_topk_from_layout(
        spark, path, cb2, qvecs[7], k=10, n_probe=16, rerank=50,
        exclude_id=7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    # full-probe layout serving == in-plan serving (same codebook
    # family: cb2 trains on the same corpus)
    direct = similarity.pq_topk(
        similarity.pq_encode(emb, cb2), cb2, qvecs[7], k=10, rerank=50,
        vectors=emb, exclude_id=7)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, direct.collect()))


def test_boilerplate_fraction(spark):
    """Cross-document boilerplate: a trigram shared by >= min_docs docs
    marks those docs; unique docs score 0."""
    footer = "copyright acme corp all rights reserved"
    df = spark.createDataFrame(
        [(i, f"doc number {i} body text {footer}") for i in range(5)] +
        [(99, "a totally unique document with no shared phrasing here")],
        ["doc_id", "text"])
    boiler = {r.gram for r in
              textstats.boilerplate_ngrams(df, min_docs=5).collect()}
    assert "copyright acme corp" in boiler
    assert all("doc number" not in g for g in boiler)   # doc-specific
    out = {r.doc_id: r for r in
           textstats.with_boilerplate_fraction(df, min_docs=5).collect()}
    assert out[99].n_boilerplate == 0 and out[99].boilerplate_frac == 0.0
    for i in range(5):
        assert out[i].n_boilerplate >= 4        # footer trigrams
        assert 0 < out[i].boilerplate_frac < 1


def test_retention_cohorts(spark):
    """Weekly retention: users cohort at their first active week and
    count into every later active week's offset bucket."""
    from datetime import datetime

    from mondrian_rest_spark.operators.windows import retention_cohorts
    rows = [
        # user 1: first week 0, active weeks 0 and 1
        (1, datetime(2024, 1, 1, 10)), (1, datetime(2024, 1, 9, 10)),
        # user 2: same cohort, active week 0 only (twice -> one count)
        (2, datetime(2024, 1, 2, 9)), (2, datetime(2024, 1, 3, 9)),
        # user 3: cohort week 1, active weeks 1 and 3
        (3, datetime(2024, 1, 8, 8)), (3, datetime(2024, 1, 22, 8)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {(str(r.cohort_week)[:10], r.week_offset): r.n_users
           for r in retention_cohorts(ev).collect()}
    assert out[("2024-01-01", 0)] == 2      # users 1+2
    assert out[("2024-01-01", 1)] == 1      # user 1 retained
    assert out[("2024-01-08", 0)] == 1      # user 3 cohort
    assert out[("2024-01-08", 2)] == 1      # user 3 back after 2 weeks
    assert len(out) == 4


def test_pq_append_serves_new_vectors(spark, sf_dir, tmp_path):
    """Incremental IVF-PQ maintenance: vectors appended against the
    stored codebook + centroids are complete, encoded identically to
    a from-scratch encode, and immediately retrievable — a probe with
    an appended vector's own embedding re-ranks it to cosine 1."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    extra = emb.filter(F.col("vec_id") % 10 == 0)
    path = str(tmp_path / "pq")
    cb = similarity.materialize_pq(base, path, iters=2)
    assert similarity.load_pq_codebook(path) == cb
    n = similarity.append_to_pq(spark, path, extra)
    assert n == extra.count()
    stored = spark.read.parquet(path)
    ids = [r.vec_id for r in stored.select("vec_id").collect()]
    assert len(ids) == emb.count() and len(set(ids)) == len(ids)
    # appended packed codes == from-scratch packed encode with the
    # same codebook
    direct = {r.vec_id: r.code for r in
              similarity.pq_encode(extra, cb, packed=True).collect()}
    for r in stored.join(extra.select("vec_id"), "vec_id").collect():
        assert r.code == direct[r.vec_id]
    probe_id = extra.select("vec_id").first()[0]
    probe_vec = list(extra.filter(F.col("vec_id") == probe_id)
                     .select("embedding").first()[0])
    top = similarity.pq_topk_from_layout(
        spark, path, None, probe_vec, k=1, n_probe=16, rerank=20).collect()
    assert top[0].vec_id == probe_id and top[0].cosine == 1.0


def test_pq_topk_rerank_requires_vectors():
    """rerank > 0 without a vectors frame is a clear ValueError at
    entry (r6 ADVICE), not an AttributeError mid-plan."""
    import pytest
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_topk(None, [[[0, 0], [9, 9]]], [0.5, 0.5],
                           k=1, rerank=5, vectors=None)


def test_auto_lsh_config_scales_with_corpus(spark, sf_dir):
    """auto=True sizes planes/tables from the corpus itself (VERDICT r6
    item 6): a larger corpus automatically gets sharper buckets, and
    the auto-sized run keeps the operator's exactness guarantees."""
    import pyspark.sql.functions as F

    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    small = similarity.auto_lsh_config(emb, threshold=0.4)
    # 4x the corpus (shifted ids; config depends only on the count)
    big_df = emb
    for i in range(1, 4):
        big_df = big_df.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n)))
    big = similarity.auto_lsh_config(big_df, threshold=0.4)
    assert small == similarity.recommended_lsh_config(n, threshold=0.4)
    assert big == similarity.recommended_lsh_config(4 * n, threshold=0.4)
    assert big[0] > small[0]                   # more planes at 4x rows
    # r10: at this LOW threshold a much larger corpus hits the
    # 256-table practicality cap — the honest answer is the guard,
    # not a Catalyst-choking 500+-table plan
    import pytest as _pt
    with _pt.raises(ValueError, match="practicality cap"):
        similarity.recommended_lsh_config(64 * n, threshold=0.4)
    # end-to-end with auto sizing: still no false positives, exact
    # cosines on survivors (same invariants as the explicit-params run)
    exact = {(r.a_id, r.b_id): r.cosine for r in
             similarity.embedding_neardup(emb, threshold=0.4).collect()}
    auto = {(r.a_id, r.b_id): r.cosine for r in
            similarity.embedding_neardup_lsh(
                emb, threshold=0.4, auto=True).collect()}
    assert set(auto) <= set(exact)
    for pair, v in auto.items():
        assert v == exact[pair]


def test_recommended_ivf_config_monotone(spark):
    """The sizing helper's guarantees: n_cells grows with the corpus,
    n_probe/rerank grow with the recall target, and n_probe never
    exceeds n_cells."""
    c1 = similarity.recommended_ivf_config(10_000)
    c2 = similarity.recommended_ivf_config(100_000_000)
    assert c2["n_cells"] > c1["n_cells"]
    assert c1["n_cells"] == 128                # ~sqrt(10k), power of two
    for n in (100, 10_000, 10**9, 10**12):
        lo = similarity.recommended_ivf_config(n, target_recall=0.5)
        mid = similarity.recommended_ivf_config(n, target_recall=0.9)
        hi = similarity.recommended_ivf_config(n, target_recall=0.99)
        assert lo["n_probe"] <= mid["n_probe"] <= hi["n_probe"]
        assert lo["rerank"] <= mid["rerank"] <= hi["rerank"]
        assert 1 <= hi["n_probe"] <= hi["n_cells"] <= 65536
    # the standard operating point: ~1/16 of cells at 0.9 recall
    c = similarity.recommended_ivf_config(10**9, target_recall=0.9)
    assert c["n_probe"] == max(1, round(c["n_cells"] / 16))


def test_ivf_recall_vs_n_probe_curve(spark, sf_dir):
    """Measured recall-vs-n_probe curve on the testdata embeddings
    (VERDICT r6 item 7's done-bar): recall against the exact cosine
    top-k must be monotone non-decreasing in n_probe and exact when
    every cell is probed."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    ids = [3, 7, 23, 41]
    exact = {}
    for qid in ids:
        exact[qid] = set(
            r.vec_id for r in
            similarity.cosine_topk(emb, query_vec_id=qid, k=10).collect())
    qs = _query_set(emb, ids)
    recalls = []
    for n_probe in (1, 2, 4, 8, 16):
        got = similarity.ann_batch_topk_ivf(
            emb, qs, k=10, n_cells=16, n_probe=n_probe).collect()
        hit = sum(len({r.vec_id for r in got if r.query_id == q}
                      & exact[q]) for q in ids)
        recalls.append(hit / (10 * len(ids)))
    assert recalls == sorted(recalls)          # monotone in n_probe
    assert recalls[-1] == 1.0                  # all cells = exhaustive
    assert recalls[0] < 1.0                    # 1 probe genuinely approx


def test_recommended_minhash_config(docs):
    """MinHash band sizing (the analog of recommended_lsh_config, now
    actually wired via auto=True): recall guarantee holds, sharper
    thresholds get more rows per band, and the auto-sized run keeps the
    bruteforce-match invariant on the fixture corpus."""
    import math

    nh_lo, b_lo = dedup.recommended_minhash_config(0.5)
    nh_hi, b_hi = dedup.recommended_minhash_config(0.9)
    r_lo, r_hi = nh_lo // b_lo, nh_hi // b_hi
    assert r_hi > r_lo                       # high threshold: sharper curve
    for t, (nh, b) in ((0.5, (nh_lo, b_lo)), (0.9, (nh_hi, b_hi))):
        r = nh // b
        assert nh % b == 0 and nh <= 256
        assert 1 - (1 - t ** r) ** b >= 0.95   # recall target met
    # more recall -> never fewer bands at the same rows/band ratio
    nh95, b95 = dedup.recommended_minhash_config(0.5, target_recall=0.95)
    nh99, b99 = dedup.recommended_minhash_config(0.5, target_recall=0.999)
    assert (nh99 // b99, b99) >= (nh95 // b95 - 1, 1)
    assert 1 - (1 - 0.5 ** (nh99 // b99)) ** b99 >= 0.999
    # end-to-end: auto sizing still matches bruteforce on the fixture
    brute = {(r.a_id, r.b_id) for r in
             dedup.neardup_bruteforce(docs, threshold=0.5).collect()}
    auto = {(r.a_id, r.b_id) for r in
            dedup.neardup_minhash_lsh(docs, threshold=0.5,
                                      auto=True).collect()}
    assert auto == brute


def test_random_project_preserves_neighborhoods(spark, sf_dir):
    """JL projection 64->16: deterministic integer output with
    configurable width, and HIGH-similarity structure survives — a
    planted twin (cosine ~0.999) stays the projected-space top-1.
    (Weakly-separated neighbors at cosine ~0.3 legitimately scramble
    at 16 dims; the operator's guarantee is about strong neighbors,
    which is what dedup/ANN prefilters rely on.)"""
    import random as _rnd

    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    p1 = similarity.random_project(emb)
    row = p1.filter("vec_id = 7").first()
    assert len(row["projected"]) == 16
    assert all(isinstance(v, int) for v in row["projected"])
    # bit-deterministic across plans
    p2 = similarity.random_project(emb)
    assert p1.filter("vec_id = 7").first()["projected"] == \
        p2.filter("vec_id = 7").first()["projected"]
    assert len(similarity.random_project(emb, out_dim=8)
               .first()["projected"]) == 8
    # planted twins: v and v + tiny noise (exact cosine ~0.999) must
    # remain each other's projected-space top-1
    rnd = _rnd.Random(42)
    rows = []
    for i in range(40):
        v = [rnd.uniform(-1, 1) for _ in range(64)]
        rows.append((i, v))
        if i < 5:
            rows.append((1000 + i, [x + rnd.uniform(-0.02, 0.02)
                                    for x in v]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    proj = similarity.random_project(
        df.selectExpr("vec_id", "cast(embedding as array<float>) embedding"))
    for i in range(5):
        top = similarity.cosine_topk(proj, query_vec_id=i, k=1,
                                     vec_col="projected").first()
        assert top.vec_id == 1000 + i, (i, top)


def test_hashed_ngram_features(spark):
    """Dense hashed-bigram vectors: one row per input doc, vector sums
    equal gram counts, short docs keep an all-zero vector, and the
    bucketing is the portable md5 fold."""
    from mondrian_rest_spark.operators import textstats
    docs = spark.createDataFrame(
        [(1, "a b c a b"),       # grams: 'a b','b c','c a','a b' (4)
         (2, "single"),          # < n tokens -> zero vector
         (3, "x y")],            # one gram
        ["doc_id", "text"])
    out = textstats.hashed_ngram_features(docs, dim=16).collect()
    by_id = {r.doc_id: list(r.features) for r in out}
    assert set(by_id) == {1, 2, 3}
    assert all(len(v) == 16 for v in by_id.values())
    assert sum(by_id[1]) == 4 and sum(by_id[2]) == 0 and sum(by_id[3]) == 1
    # 'a b' occurs twice -> one bucket holds >= 2
    assert max(by_id[1]) >= 2
    # bucket placement matches the portable md5 fold
    import hashlib
    b = int(hashlib.md5(b"x y").hexdigest()[:8], 16) % 16
    assert by_id[3][b] == 1


def test_funnel_first_touch_semantics(spark):
    """Crafted sequences pin the funnel contract: strictly-ordered
    steps, the within-window anchored at the FIRST step-1 event
    (first-touch), and per-step user counts with conversion."""
    from datetime import datetime

    from mondrian_rest_spark.operators import windows

    def e(uid, t, typ):
        return (uid * 1000 + int(t.timestamp()) % 1000, t, uid, typ, 1.0)
    d = lambda day, h=0: datetime(2024, 1, day, h)
    rows = [
        # u1 completes in order: view d1, click d2, purchase d3
        e(1, d(1), "view"), e(1, d(2), "click"), e(1, d(3), "purchase"),
        # u2: purchase BEFORE click -> stops after click
        e(2, d(1), "view"), e(2, d(3), "click"), e(2, d(2), "purchase"),
        # u3: completes but purchase lands past the 7-day window
        #     anchored at the FIRST view (d1) -> stops after click
        e(3, d(1), "view"), e(3, d(2), "click"), e(3, d(9), "purchase"),
        # u4: never views -> not even step 1
        e(4, d(1), "click"), e(4, d(2), "purchase"),
        # u5: view only
        e(5, d(5), "view"),
        # u6: first-touch: views d1 AND d4; purchase d8 is within 7d of
        #     the d4 view but the anchor is d1+7=d8 NOT strict... d8 <=
        #     d1+7d boundary is INCLUSIVE -> completes exactly on it
        e(6, d(1), "view"), e(6, d(2), "click"), e(6, d(4), "view"),
        e(6, d(8), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"])
    got = {r.step: (r.users, r.conversion)
           for r in windows.funnel(df).collect()}
    assert got["view"] == (5, 1.0)            # u1,u2,u3,u5,u6
    assert got["click"] == (4, 0.8)           # u1,u2,u3,u6
    assert got["purchase"] == (2, 0.4)        # u1, u6 (boundary incl.)
    # step order is part of the contract
    idx = {r.step: r.step_idx for r in windows.funnel(df).collect()}
    assert idx == {"view": 1, "click": 2, "purchase": 3}
    with pytest.raises(ValueError, match="at least 2"):
        windows.funnel(df, steps=("view",))


def test_media_codec_jpeg_dimensions():
    """JPEG SOF marker walk (VERDICT r7 #5): header-exact dims from
    SOI+SOFn, tolerant of preceding segments (APP0/DHT/COM), correct
    for progressive (SOF2), and clear errors on junk."""
    from mondrian_rest_spark.operators import media_codec
    import struct

    hdr = media_codec.jpeg_header(640, 480, 3)
    assert media_codec.sniff(hdr) == "jpeg"
    assert media_codec.jpeg_dimensions(hdr) == (640, 480, 3)
    assert media_codec.jpeg_dimensions(
        media_codec.jpeg_header(1, 65535, 1)) == (1, 65535, 1)

    # APP0 (JFIF) + COM segments before SOF2 (progressive)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    sof2 = (b"\xff\xc2" + struct.pack(">H", 11)
            + struct.pack(">BHHB", 8, 77, 99, 1) + bytes([1, 0x11, 0]))
    jpg = b"\xff\xd8" + app0 + com + sof2 + b"\xff\xd9"
    assert media_codec.jpeg_dimensions(jpg) == (99, 77, 1)

    import pytest as _pt
    with _pt.raises(ValueError, match="SOI"):
        media_codec.jpeg_dimensions(b"\x00\x01")
    with _pt.raises(ValueError, match="missing SOF"):
        media_codec.jpeg_dimensions(b"\xff\xd8" + app0 + b"\xff\xd9")


def test_multimodal_jpeg_features(spark):
    """extract_features reports real JPEG dims (channels from the SOF
    component count); mean_px stays null (no entropy decode here)."""
    import pandas as pd
    from mondrian_rest_spark.operators import media_codec, multimodal

    rows = [(i, "image", media_codec.jpeg_header(100 + i, 50 + i,
                                                 3 if i % 2 else 1),
             "image/jpeg") for i in range(6)]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           multimodal.extract_features(df).collect()}
    for i in range(6):
        r = got[i]
        assert (r["width"], r["height"]) == (100 + i, 50 + i)
        assert r["channels"] == (3 if i % 2 else 1)
        assert r["mean_px"] is None or r["mean_px"] != r["mean_px"]


def test_funnel_any_touch_and_per_step_window(spark):
    """VERDICT r7 #7 variants: any-touch re-anchors at EVERY step-1
    event (a user whose only valid sequence starts at a later view
    still converts); per_step_window budgets `within` between
    consecutive steps instead of from the anchor."""
    from datetime import datetime

    from mondrian_rest_spark.operators import windows

    def e(uid, t, typ):
        return (uid * 1000 + int(t.timestamp()) % 1000, t, uid, typ, 1.0)
    d = lambda day, h=0: datetime(2024, 1, day, h)
    rows = [
        # u1: first view d1 -> click d10 is outside d1+7d, but the
        #     SECOND view d9 anchors a valid click d10 / purchase d11
        e(1, d(1), "view"), e(1, d(9), "view"),
        e(1, d(10), "click"), e(1, d(11), "purchase"),
        # u2: clean completion from the first view
        e(2, d(1), "view"), e(2, d(2), "click"), e(2, d(3), "purchase"),
        # u3: view only
        e(3, d(5), "view"),
        # u4: per-step probe — view d1, click d2, purchase d6:
        #     global 7d budget completes; per-step 2d budget fails the
        #     purchase (d6 > click d2 + 2d)
        e(4, d(1), "view"), e(4, d(2), "click"), e(4, d(6), "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"])

    first = {r.step: r.users for r in windows.funnel(df).collect()}
    assert first == {"view": 4, "click": 2, "purchase": 2}  # u2,u4 done

    anyt = {r.step: r.users
            for r in windows.funnel(df, mode="any_touch").collect()}
    assert anyt == {"view": 4, "click": 3, "purchase": 3}   # +u1 via d9

    per = {r.step: r.users
           for r in windows.funnel(df, within="2 days",
                                   per_step_window=True).collect()}
    assert per == {"view": 4, "click": 2, "purchase": 1}    # only u2

    both = {r.step: r.users
            for r in windows.funnel(df, within="2 days", mode="any_touch",
                                    per_step_window=True).collect()}
    assert both == {"view": 4, "click": 3, "purchase": 2}   # u1 (d9 anchor), u2

    with pytest.raises(ValueError, match="funnel mode"):
        windows.funnel(df, mode="last_touch")
    # `within` feeds an INTERVAL literal: malformed/injection strings
    # are rejected up front (VERDICT r8 #7)
    for bad in ("7 days; DROP TABLE x", "7", "days", "'7' days",
                "7 fortnights", "7 days OR 1=1"):
        with pytest.raises(ValueError, match="within"):
            windows.funnel(df, within=bad)
    windows.funnel(df, within="36 HOURS")   # case/plural both fine


def test_media_codec_gif_bmp_mp3_headers():
    from mondrian_rest_spark.operators import media_codec as mc
    assert mc.gif_dimensions(mc.gif_header(321, 97)) == (321, 97)
    assert mc.bmp_dimensions(mc.bmp_header(88, 44, 32)) == (88, 44, 4)
    # top-down BMP stores a negative height; dims are absolute
    neg = bytearray(mc.bmp_header(10, 7, 24))
    neg[22:26] = (-7).to_bytes(4, "little", signed=True)
    assert mc.bmp_dimensions(bytes(neg)) == (10, 7, 3)
    rate, ch, br, dur = mc.mp3_frame_info(mc.mp3_frames(4, 128, 44100, 2))
    assert (rate, ch, br) == (44100, 2, 128)
    frame = 144 * 128 * 1000 // 44100
    assert dur == frame * 4 * 8 // 128
    # ID3v2 tag is skipped by its synchsafe size
    tagged = (b"ID3\x04\x00\x00\x00\x00\x00\x05" + b"\0" * 5
              + mc.mp3_frames(2, 192, 48000, 1))
    assert mc.mp3_frame_info(tagged)[:3] == (48000, 1, 192)
    for fn, payload in [(mc.gif_dimensions, b"NOPE"),
                        (mc.bmp_dimensions, b"XX" + b"\0" * 40),
                        (mc.mp3_frame_info, b"\0" * 64)]:
        with pytest.raises(ValueError):
            fn(payload)
    assert mc.sniff(mc.gif_header(1, 1)) == "gif"
    assert mc.sniff(mc.bmp_header(1, 1)) == "bmp"
    assert mc.sniff(mc.mp3_frames(1)) == "mp3"
    # ADVICE r9: scan bound off-by-one — payloads whose scan reaches
    # the last 3 bytes must raise the diagnostic ValueError, not a
    # tuple-unpack error; <4-byte payloads are guarded up front
    for bad in (b"\xff\xfb\x00", b"\x00" * 5, b"\x00" * 7,
                b"ID3\x04\x00\x00\x00\x00\x00\x02" + b"\0\0\0"):
        with pytest.raises(ValueError, match="frame sync"):
            mc.mp3_frame_info(bad)


def test_multimodal_corrupt_payloads_fall_to_stub(spark):
    """ADVICE r9: a corrupt payload that *sniffs* as a known format
    (JPEG SOI with no SOF, GIF8 with a bad version, MP3-sync garbage,
    truncated PNG) must degrade to the stub row (channels=0), never
    fail the whole extract_features job."""
    from mondrian_rest_spark.operators import media_codec as mc
    from mondrian_rest_spark.operators import multimodal

    corrupt = [
        b"\xff\xd8\xff\xd9",                 # JPEG SOI+EOI, no SOF
        b"GIF8xa" + b"\x00" * 8,             # GIF8 but bad version
        b"\xff\xe3" + b"\x00" * 6,           # MP3 sync word, no frame
        mc.PNG_SIG + b"\x00\x00\x00\x0d" + b"IHDR" + b"\x00" * 4,
        b"RIFF\x00\x00\x00\x00WAVE",          # WAV with no fmt/data
        b"BM" + b"\x00" * 40,                # BMP zero-dim garbage? ok
    ]
    rows = [(i, "image", p, "application/octet-stream")
            for i, p in enumerate(corrupt)]
    # one healthy PNG proves the real path still runs in the same job
    rows.append((99, "image", mc.png_encode(bytes(range(12)), 2, 2, 3),
                 "image/png"))
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in
           multimodal.extract_features(df).collect()}
    assert len(got) == len(rows)             # nothing failed the job
    for i in range(len(corrupt) - 1):        # BMP garbage parses (zero
        assert got[i]["channels"] == 0, i    # dims) or stubs — skip it
    assert got[99]["channels"] == 3 and got[99]["width"] == 2


def test_mixture_sample_hits_target_proportions(spark, sf_dir):
    from mondrian_rest_spark.operators import sampling
    from mondrian_rest_spark.sources.registry import load_table
    docs = load_table(spark, sf_dir, "documents")
    weights = {"en": 2, "de": 1, "fr": 1}   # normalizes to .5/.25/.25
    fr = sampling.mixture_fractions(docs, "lang", weights)
    # binding stratum keeps everything
    assert max(fr.values()) == 1.0 and all(0 < v <= 1.0 for v in fr.values())
    kept = sampling.mixture_sample(docs, "lang", weights).groupBy(
        "lang").count().collect()
    by = {r["lang"]: r["count"] for r in kept}
    assert set(by) <= {"en", "de", "fr"}     # unweighted strata dropped
    total = sum(by.values())
    # hash buckets approximate the target mix; small corpora are noisy
    assert abs(by["en"] / total - 0.5) < 0.15
    # determinism: same salt -> identical kept set
    a = {r.doc_id for r in sampling.mixture_sample(
        docs, "lang", weights).select("doc_id").collect()}
    b = {r.doc_id for r in sampling.mixture_sample(
        docs, "lang", weights).select("doc_id").collect()}
    assert a == b
    with pytest.raises(ValueError, match="non-negative"):
        sampling.mixture_fractions(docs, "lang", {"en": -1})
    with pytest.raises(ValueError, match="no rows"):
        sampling.mixture_fractions(docs, "lang", {"xx": 1.0})


def test_mmr_rerank_prefers_diversity(spark):
    # candidates: one perfect near-dup pair of the best match + an
    # orthogonal-ish doc.  Plain top-2 would take both dups; MMR's
    # redundancy penalty picks the diverse doc second.
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.1, 0.0]),         # best match
        (2, [0.99, 0.1, 0.001]),       # near-identical to 1
        (3, [0.0, 1.0, 0.1]),          # near-orthogonal: diverse
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = similarity.mmr_rerank(df, query_vec_id=0, k=2, fetch=3,
                                lam=0.3).collect()
    assert [r.vec_id for r in got] == [1, 3]
    assert [r.rank for r in got] == [1, 2]
    # rank 1 is always the plain cosine winner
    top = similarity.cosine_topk(df, 0, 1).collect()[0]
    assert got[0].vec_id == top.vec_id
    # degenerate params are clear errors
    with pytest.raises(ValueError, match="fetch"):
        similarity.mmr_rerank(df, 0, k=5, fetch=3)
    with pytest.raises(ValueError, match="lam"):
        similarity.mmr_rerank(df, 0, k=1, fetch=2, lam=1.5)


def test_mmr_rerank_negative_penalty_is_a_bonus(spark):
    """The redundancy penalty is max(sim(d, selected)) WITHOUT a zero
    floor: a candidate anti-similar to everything selected earns a
    bonus (score > lam*rel), matching the recompute-form semantics the
    memoized loop must preserve (r9 regression guard for the
    zero-clamped np.maximum bug)."""
    rows = [
        (0, [1.0, 0.0]),               # query
        (1, [0.9, 0.1]),               # best match
        (2, [-0.5, 0.86]),             # anti-similar to 1
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = {r.vec_id: r for r in
           similarity.mmr_rerank(df, 0, k=2, fetch=2, lam=0.5).collect()}
    assert set(got) == {1, 2}
    # sim(2, 1) < 0 => mmr_score(2) = .5*rel - .5*sim > .5*rel
    assert got[2].mmr_score > 0.5 * got[2].cosine


def test_mmr_rerank_at_rest_caps_is_fast(spark):
    """VERDICT r8 #1: at the REST route caps (fetch=10000, k=1000) the
    memoized greedy loop must finish in seconds, not the minutes the
    recompute-per-round O(fetch*k^2) form took."""
    import time

    n, dim = 10_000, 64
    rows = [(i, [float(((i + 1) * (j + 3) * 2654435761) % 2000 - 1000)
                 / 1000.0 for j in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>").coalesce(8)
    t0 = time.monotonic()
    got = similarity.mmr_rerank(df, query_vec_id=0, k=1000, fetch=10_000,
                                lam=0.7)
    assert got.count() == 1000
    elapsed = time.monotonic() - t0
    # greedy loop is ~1s of numpy at this size; the budget covers the
    # Spark candidate fetch + collect on a loaded CI box
    assert elapsed < 60, f"MMR at caps took {elapsed:.1f}s"


def test_chunk_windows_overlap_and_tail(spark):
    """x05 chunking: offsets advance by stride; consecutive chunks
    overlap by window-stride words; the tail chunk is shorter but
    never empty; empty docs vanish."""
    from mondrian_rest_spark.operators.pipeline import chunk_windows

    rows = [(1, " ".join(f"w{i}" for i in range(10))),   # 10 words
            (2, "one"),                                   # single word
            (3, "   ")]                                   # empty
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.doc_id, r.chunk_idx): r
           for r in chunk_windows(df, window=4, stride=3).collect()}
    # doc 1: offsets 0,3,6,9 -> 4 chunks; tail has 1 word
    assert sorted(k for k in got if k[0] == 1) == [(1, i) for i in range(4)]
    assert got[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert got[(1, 1)].chunk_text == "w3 w4 w5 w6"    # 1-word overlap
    assert got[(1, 3)].chunk_text == "w9" and got[(1, 3)].n_words == 1
    assert got[(2, 0)].n_words == 1
    assert not any(k[0] == 3 for k in got)
    import pytest as _pt
    with _pt.raises(ValueError, match="window and stride"):
        chunk_windows(df, window=0)


def test_chunk_token_windows_budget_reconciles(spark):
    """x06 (VERDICT r9 #8): window/stride in TOKENIZER units — every
    chunk fits the token budget, strides overlap in tokens, and the
    union of stride-aligned token counts reconciles with token_stats'
    n_subword_pieces for the same document."""
    from mondrian_rest_spark.operators.pipeline import chunk_token_windows
    from mondrian_rest_spark.operators.textstats import token_stats

    rows = [(1, "Hello, world! x7:y8 " * 10),     # punct splits pieces
            (2, "only-one"),                       # 2 pieces, 1 chunk
            (3, "!!! ... ???")]                    # 0 pieces -> drops
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {(r.doc_id, r.chunk_idx): r
           for r in chunk_token_windows(df, window=16,
                                        stride=12).collect()}
    # doc 1: "Hello world x7 y8" x 10 = 40 pieces -> offsets 0..36
    idxs = sorted(k[1] for k in got if k[0] == 1)
    assert idxs == [0, 1, 2, 3]
    assert all(got[(1, i)].n_tokens <= 16 for i in idxs)   # budget
    assert got[(1, 0)].chunk_text.split()[:4] == \
        ["Hello", "world", "x7", "y8"]
    # overlap: chunk 1 starts at token 12 = chunk 0's token 12
    assert got[(1, 1)].chunk_text.split()[0] == \
        got[(1, 0)].chunk_text.split()[12]
    assert got[(1, 3)].n_tokens == 40 - 36                 # tail
    assert got[(2, 0)].n_tokens == 2                       # only-one
    assert not any(k[0] == 3 for k in got)                 # no pieces
    # reconciles with token_stats' subword count
    ts = {r.doc_id: r.n_subword_pieces
          for r in token_stats(df).collect()}
    first = {d: got[(d, 0)] for d in (1, 2)}
    for d, chunk0 in first.items():
        n_chunks = max(k[1] for k in got if k[0] == d) + 1
        total = (12 * (n_chunks - 1)
                 + got[(d, n_chunks - 1)].n_tokens)
        assert total == ts[d]


def test_jaccard_spill_minhash_degraded_mode(spark):
    """r11 (VERDICT r10 #4): with spill=minhash the guarded run
    COMPLETES under template skew — pairs among docs outside the hot
    bucket are bit-identical to the unguarded exact run, pairs
    touching hot-bucket docs come via the LSH pre-filter with
    approximate=true (values still exact Jaccard)."""
    # clean near-dups (no shared template) + a hot template cluster:
    # 800 SHORT docs where the shared leading trigram lands in every
    # prefix (2-shingle docs -> prefix covers both), and doc pairs
    # (2i, 2i+1) are exact duplicates (jaccard 1.0)
    rows = []
    for i in range(400):
        rows.append((2 * i, f"alpha beta gamma tail{i}"))
        rows.append((2 * i + 1, f"alpha beta gamma tail{i}"))
    rows += [(10_000, "clean pair one same words here exactly match"),
             (10_001, "clean pair one same words here exactly match"),
             (10_002, "completely different content lives here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    exact_all = {(r.a_id, r.b_id, r.jaccard) for r in
                 dedup.neardup_jaccard_prefix(df, threshold=0.5).collect()}
    # the template bucket trips the cap on the plain path
    with pytest.raises(dedup.PrefixSkewError):
        dedup.neardup_jaccard_prefix(
            df, threshold=0.5, max_candidates_per_prefix=200)

    got = dedup.neardup_jaccard_spill_minhash(
        df, threshold=0.5, max_candidates_per_prefix=200).collect()
    exact_rows = {(r.a_id, r.b_id, r.jaccard) for r in got
                  if not r.approximate}
    approx_rows = {(r.a_id, r.b_id, r.jaccard) for r in got
                   if r.approximate}
    # bit-identical outside the hot bucket
    clean_expected = {t for t in exact_all if t[0] >= 10_000}
    assert exact_rows == clean_expected
    # every approximate pair touches the hot bucket, is value-exact,
    # and the near-identical template pairs (jaccard ~0.8) are found
    assert approx_rows and approx_rows <= exact_all
    assert {(a, b) for a, b, _ in approx_rows} >= \
        {(2 * i, 2 * i + 1) for i in range(0, 400, 50)}
    # no overlap between the two paths
    assert not ({(a, b) for a, b, _ in exact_rows}
                & {(a, b) for a, b, _ in approx_rows})
    # below-cap corpus: no spill, all rows exact, same pairs
    small = spark.createDataFrame(rows[-3:], ["doc_id", "text"])
    all_exact = dedup.neardup_jaccard_spill_minhash(
        small, threshold=0.5, max_candidates_per_prefix=200).collect()
    assert all(not r.approximate for r in all_exact)


def test_jaccard_index_path_skew_guard(spark):
    """r12: the index-based exact path gets the self-join path's skew
    guard — a batch whose prefixes touch a template INDEX shingle
    (corpus df above the cap) fails loud with the shingles named,
    instead of an O(|batch| x |index bucket|) candidate join.  The df
    check rides the freq frame already in the index: no index-sized
    work added."""
    rows = [(i, f"alpha beta gamma tail{i}") for i in range(100)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    pre, sh, freq = dedup.build_jaccard_index(corpus, threshold=0.5)
    hot_new = spark.createDataFrame(
        [(1000, "alpha beta gamma fresh")], ["doc_id", "text"])
    with pytest.raises(dedup.PrefixSkewError) as ei:
        dedup.neardup_pairs_against_jaccard_index(
            hot_new, pre, sh, freq, 0.5, 0.5,
            max_candidates_per_prefix=50)
    assert ei.value.buckets and ei.value.buckets[0][1] == 100
    # a batch avoiding the template passes under the same cap, and the
    # guarded result equals the unguarded one
    clean_new = spark.createDataFrame(
        [(2000, "totally different words live here now"),
         (2001, "tail7 words echo gamma tail7 only")], ["doc_id", "text"])
    guarded = dedup.neardup_pairs_against_jaccard_index(
        clean_new, pre, sh, freq, 0.5, 0.5,
        max_candidates_per_prefix=50).collect()
    plain = dedup.neardup_pairs_against_jaccard_index(
        clean_new, pre, sh, freq, 0.5, 0.5).collect()
    assert sorted(map(tuple, guarded)) == sorted(map(tuple, plain))


def test_jaccard_spill_frames_stay_persisted(spark):
    """r12 (VERDICT r11 #2): the d11 static plan shows ~32 parquet
    scans of the docs table, but real execution reuses the persisted
    shingle/prefix/hot frames — explain can't show that, so an
    unpersist REGRESSION would be invisible in the PLANS.md audit.
    Tripwire: every request-tagged frame must carry a real storage
    level, and the executed plan must read from the cache."""
    rows = [(2 * i, f"alpha beta gamma tail{i}") for i in range(50)]
    rows += [(2 * i + 1, f"alpha beta gamma tail{i}") for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    q = dedup.neardup_jaccard_spill_minhash(
        df, threshold=0.5, max_candidates_per_prefix=20)
    tagged = getattr(q, "_mrs_request_persisted", [])
    # sh + prefix + hot_g + hot_docs + the LSH lane's internal frames
    assert len(tagged) >= 6, [str(f) for f in tagged]
    for f in tagged:
        lvl = f.storageLevel
        assert lvl.useMemory or lvl.useDisk, \
            f"request frame not persisted: {f}"
    assert q.count() > 0
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    dedup.unpersist_request_frames(q)
    for f in tagged:
        lvl = f.storageLevel
        assert not (lvl.useMemory or lvl.useDisk)
    # the no-spill path persists (and tags) sh + prefix the same way
    small = spark.createDataFrame(rows[:4], ["doc_id", "text"])
    q2 = dedup.neardup_jaccard_spill_minhash(
        small, threshold=0.5, max_candidates_per_prefix=1000)
    tagged2 = getattr(q2, "_mrs_request_persisted", [])
    assert len(tagged2) >= 2
    for f in tagged2:
        lvl = f.storageLevel
        assert lvl.useMemory or lvl.useDisk
    dedup.unpersist_request_frames(q2)


def test_jaccard_spill_auto_sizes_lsh_for_target_recall(spark):
    """r12 (VERDICT r11 #7): the spill path accepts auto/target_recall
    and the auto-sized LSH meets the target recall ON THE HOT SET —
    the only pairs that inherit the S-curve.  Seeded skew corpus: every
    doc carries the hot template trigram, and all true pairs sit at
    jaccard ~0.54, squarely on the steep section where the spill
    default (32 hashes / 8 bands, r=4) recalls only ~0.4."""
    rows = []
    for i in range(80):
        rows.append((2 * i, f"hot tmpl zero s{i} p q r t u v w x"))
        rows.append((2 * i + 1,
                     f"hot tmpl zero s{i} p q r m{i} n{i} o{i} k{i} j{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    truth = {(r.a_id, r.b_id) for r in
             dedup.neardup_jaccard_prefix(df, threshold=0.5).collect()}
    assert len(truth) > 1000  # dense borderline corpus, all hot

    def recall(auto):
        got = dedup.neardup_jaccard_spill_minhash(
            df, threshold=0.5, max_candidates_per_prefix=50,
            auto=auto, target_recall=0.95).collect()
        assert all(r.approximate for r in got)  # everything is hot
        found = {(r.a_id, r.b_id) for r in got}
        assert found <= truth  # verify stage: values stay exact
        return len(found & truth) / len(truth)

    r_default, r_auto = recall(False), recall(True)
    assert r_auto >= 0.95            # the contract under test
    assert r_default < r_auto        # auto actually changed the sizing


def test_semantic_dedup_pairs_within_cells(spark, sf_dir):
    """SemDeDup pairs are a subset of the exact pair set (no false
    positives, exact cosine on survivors), every pair is co-celled
    under the replayable assignment, and recall is useful."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {(r.a_id, r.b_id): r.cosine for r in
             similarity.embedding_neardup(emb, threshold=0.4).collect()}
    sem = similarity.semantic_dedup_pairs(emb, threshold=0.4,
                                          n_cells=8).collect()
    sempairs = {(r.a_id, r.b_id): r.cosine for r in sem}
    assert set(sempairs) <= set(exact)
    for k, v in sempairs.items():
        assert v == exact[k]
    # the paper's trade: cells cost recall but must keep a useful share
    assert len(sempairs) >= 0.3 * max(len(exact), 1)
    cells = {r[0]: r["cell_id"]
             for r in similarity.assign_cells(emb, n_cells=8).collect()}
    for r in sem:
        assert cells[r.a_id] == cells[r.b_id] == r.cell_id


def test_semantic_deduplicate_keep_one(spark):
    """Greedy min-id keep: in a similarity chain the lowest id
    survives; pair-free rows always survive."""
    rows = [(0, [1.0, 0.0]), (1, [0.999, 0.01]), (2, [0.995, 0.02]),
            (3, [0.0, 1.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = {r.vec_id for r in similarity.semantic_deduplicate(
        df, threshold=0.9, n_cells=1, dim=2).collect()}
    assert kept == {0, 3}
    # with 2 cells the clustering splits the 0-1-2 chain (the paper's
    # recall trade): 2 lands in its own cell and survives
    kept2 = {r.vec_id for r in similarity.semantic_deduplicate(
        df, threshold=0.9, n_cells=2, dim=2).collect()}
    assert kept2 == {0, 2, 3}


def test_semantic_dedup_cell_skew_guard(spark, sf_dir):
    """A degenerate clustering (1 cell) trips the loud quadratic
    guard instead of running an unbounded pair join."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(similarity.CellSkewError, match="max_cell_rows=10"):
        similarity.semantic_dedup_pairs(emb, threshold=0.4, n_cells=1,
                                        max_cell_rows=10)


def test_duplicate_spans_merge_and_boundaries(spark):
    """A shared 6-token passage under n=3 merges its four gram hits
    into ONE maximal span per doc, with correct 0-based inclusive
    boundaries; unique text yields no span rows."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique1 unique2"),
        (2, "x1 x2 alpha beta gamma delta epsilon zeta y1"),
        (3, "nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = {r.doc_id: r for r in
             dedup.duplicate_spans(df, n=3, min_docs=2).collect()}
    assert set(spans) == {1, 2}
    assert (spans[1].span_start, spans[1].span_end) == (0, 5)
    assert (spans[2].span_start, spans[2].span_end) == (2, 7)
    assert spans[1].span_tokens == 6 and spans[1].n_grams == 4
    # far-apart repeats in one doc pair stay SEPARATE islands
    rows2 = [(1, "a b c d QQ RR SS e f g h QQ RR SS i"),
             (2, "QQ RR SS")]
    two = (dedup.duplicate_spans(
        spark.createDataFrame(rows2, ["doc_id", "text"]), n=3, min_docs=2)
        .filter("doc_id = 1").orderBy("span_start").collect())
    assert [(r.span_start, r.span_end) for r in two] == [(4, 6), (11, 13)]


def test_duplicate_spans_within_doc_repeats(spark):
    """min_occurrences catches a doc repeating its OWN passage even
    when no second doc shares it (the within-doc boilerplate case);
    with min_docs-only semantics the same corpus yields nothing."""
    rows = [(1, "intro QQ RR SS middle QQ RR SS outro"),
            (2, "totally different text entirely")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert dedup.duplicate_spans(df, n=3, min_docs=2).count() == 0
    got = (dedup.duplicate_spans(df, n=3, min_docs=2, min_occurrences=2)
           .orderBy("span_start").collect())
    assert [(r.doc_id, r.span_start, r.span_end) for r in got] == \
        [(1, 1, 3), (1, 5, 7)]


def test_trim_duplicate_spans_cuts_exactly(spark):
    """The trim removes exactly the span tokens: survivors keep the
    rest in order, a fully-duplicated doc comes out empty (not
    dropped), and a clean doc passes through with its token count."""
    from mondrian_rest_spark.operators import pipeline
    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique1 unique2"),
        (2, "x1 x2 alpha beta gamma delta epsilon zeta y1"),
        (3, "alpha beta gamma delta epsilon zeta"),
        (4, "nothing shared here at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           pipeline.trim_duplicate_spans(df, n=3, min_docs=2).collect()}
    assert out[1].clean_text == "unique1 unique2"
    assert out[1].removed_tokens == 6 and out[1].n_tokens_kept == 2
    assert out[2].clean_text == "x1 x2 y1"
    assert out[3].clean_text == "" and out[3].n_tokens_kept == 0
    assert out[3].removed_tokens == 6
    assert out[4].clean_text == rows[3][1]
    assert out[4].removed_tokens == 0


def test_bigram_novelty_extremes(spark):
    """All-unique bigrams -> novelty 1.0; a bigram shared with another
    doc stops being rare; docs with < 2 tokens score 0/0/0.0."""
    rows = [(1, "aa bb cc dd"), (2, "xx yy zz"), (3, "xx yy qq"),
            (4, "single")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.bigram_novelty(df).collect()}
    assert out[1].novelty == 1.0 and out[1].n_bigrams == 3
    # doc 2: "xx yy" appears twice corpus-wide -> 1 of 2 bigrams rare
    assert out[2].n_rare == 1 and out[2].novelty == 0.5
    assert (out[4].n_bigrams, out[4].n_rare, out[4].novelty) == (0, 0, 0.0)


def test_dsir_ranks_target_like_docs(spark):
    """Docs sharing the target slice's bigrams outrank docs that
    don't, and dsir_sample keeps exactly floor(frac * corpus)."""
    from mondrian_rest_spark.operators import sampling
    tgt = [(i, "the quick brown fox jumps over the lazy dog", "en")
           for i in range(4)]
    like = [(10, "the quick brown fox sleeps", "xx")]
    unlike = [(11, "zzz qqq www eee rrr", "xx")]
    df = spark.createDataFrame(tgt + like + unlike,
                               ["doc_id", "text", "lang"])
    scores = {r.doc_id: r.mean_weight for r in sampling.dsir_scores(
        df, target_filter="lang = 'en'", dim=32).collect()}
    assert scores[10] > scores[11]
    kept = sampling.dsir_sample(df, target_filter="lang = 'en'",
                                frac=0.5, dim=32).collect()
    assert len(kept) == 3                      # floor(0.5 * 6)
    assert all(r.mean_weight >= scores[11] for r in kept)


def test_contaminated_spans_eval_quotes_only(spark):
    """Only the quoted eval passage flags inside a training doc —
    train-train repeats do NOT (decontamination is vs the eval set,
    not self-dedup), and eval-side docs never appear in the output."""
    train = spark.createDataFrame(
        [(1, "intro THE EVAL QUESTION TEXT HERE outro shared shared2 s3"),
         (2, "clean page shared shared2 s3 nothing from any benchmark")],
        ["doc_id", "text"])
    eval_docs = spark.createDataFrame(
        [(100, "THE EVAL QUESTION TEXT HERE")], ["doc_id", "text"])
    got = dedup.contaminated_spans(train, eval_docs, n=3).collect()
    assert [(r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in got] == [(1, 1, 5, 5)]


def test_decontaminate_corpus_policy(spark):
    """Heavy contamination drops the doc, light contamination trims
    the quoted span, clean docs pass through."""
    from mondrian_rest_spark.operators import pipeline
    train = spark.createDataFrame(
        [(1, "THE EVAL QUESTION TEXT HERE plus one extra"),       # 5/8 > 0.2 -> drop
         (2, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 "
             "w16 w17 w18 w19 w20 THE EVAL QUESTION TEXT HERE"),  # 5/25 = 0.2 -> trim
         (3, "completely clean document body")],
        ["doc_id", "text"])
    eval_docs = spark.createDataFrame(
        [(100, "THE EVAL QUESTION TEXT HERE")], ["doc_id", "text"])
    out = {r.doc_id: r for r in pipeline.decontaminate_corpus(
        train, eval_docs, n=3, max_fraction=0.2).collect()}
    assert set(out) == {2, 3}
    assert out[2].removed_tokens == 5
    assert out[2].clean_text == " ".join(f"w{i}" for i in range(1, 21))
    assert out[3].removed_tokens == 0
    assert out[3].clean_text == "completely clean document body"


def test_decontaminate_spans_frame_stays_persisted(spark, sf_dir):
    """x09's span frame feeds both the fraction gate and the trim —
    request-persisted so execution runs the gram explode once (the
    unpersisted draft planned it 4x).  Tripwire mirrors the d11
    persist guard: the tagged frame must carry a storage level and
    the executed plan must read from the cache."""
    from mondrian_rest_spark.operators import pipeline
    from mondrian_rest_spark.sources.registry import load_table
    docs = load_table(spark, sf_dir, "documents")
    out = pipeline.decontaminate_corpus(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"), n=5, max_fraction=0.2)
    tagged = getattr(out, "_mrs_request_persisted", [])
    assert len(tagged) == 1
    lvl = tagged[0].storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    dedup.unpersist_request_frames(out)
    lvl = tagged[0].storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def test_semantic_dedup_pair_join_is_narrow(spark, sf_dir):
    """The within-cell self-join must move only (cell_id, id) — the
    wide embedding arrays join back AFTER candidate generation (the
    d06 lesson: carrying vectors through the pair shuffle measured
    ~6x the operator cost).  Guard: no exchange below the cell join
    carries the embedding column."""
    import contextlib
    import io
    import re

    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.semantic_dedup_pairs(emb, threshold=0.4, n_cells=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain("formatted")
    secs = [s2 for s2 in
            re.findall(r"\(\d+\) Exchange[\s\S]*?(?=\n\(\d+\)|\Z)",
                       buf.getvalue())
            if "hashpartitioning(cell_id" in s2]
    assert len(secs) >= 2, buf.getvalue()          # both self-join sides
    for sec in secs:
        inp = re.search(r"Input \[(\d+)\]: \[([^\]]*)\]", sec)
        assert inp and int(inp.group(1)) <= 2, sec  # (cell_id, id) only
        assert "embedding" not in inp.group(2), sec


def _py_duplicate_spans(docs, n, min_docs):
    """Independent pure-Python reference for duplicate_spans (no
    shared code, no md5 — tuple grams): gram doc-frequency, position
    marks, interval merge."""
    from collections import defaultdict
    pos = {}
    for did, text in docs:
        toks = text.split()
        pos[did] = ([tuple(toks[i:i + n])
                     for i in range(len(toks) - n + 1)]
                    if len(toks) >= n else [])
    freq = defaultdict(set)
    for did, gs in pos.items():
        for g in gs:
            freq[g].add(did)
    out = []
    for did, gs in pos.items():
        spans = []
        for i, g in enumerate(gs):
            if len(freq[g]) < min_docs:
                continue
            s, e = i, i + n - 1
            if spans and s <= spans[-1][1] + 1:
                spans[-1] = [spans[-1][0], max(spans[-1][1], e),
                             spans[-1][2] + 1]
            else:
                spans.append([s, e, 1])
        out.extend((did, s, e, e - s + 1, c) for s, e, c in spans)
    return sorted(out)


from hypothesis import HealthCheck as _HC  # noqa: E402
from hypothesis import given as _given, settings as _settings  # noqa: E402
from hypothesis import strategies as _st  # noqa: E402

_corpus = _st.lists(
    _st.lists(_st.sampled_from("abcd"), min_size=0, max_size=12)
       .map(lambda ts: " ".join(ts)),
    min_size=1, max_size=6)


@_settings(max_examples=12, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(corpus=_corpus, n=_st.sampled_from([2, 3]))
def test_duplicate_spans_matches_python_reference(spark, corpus, n):
    """Property fuzz: on arbitrary tiny corpora over a 4-token
    alphabet, the DataFrame operator's spans equal an independent
    pure-Python reference (tuple grams, no md5) exactly."""
    docs = [(i, t) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = sorted((r.doc_id, r.span_start, r.span_end, r.span_tokens,
                  r.n_grams)
                 for r in dedup.duplicate_spans(df, n=n, min_docs=2)
                 .collect())
    assert got == _py_duplicate_spans(docs, n, 2)


def test_semantic_contamination_cross_set_only(spark, sf_dir):
    """Cross-set pairs only (train x eval — never self-dedup on
    either side), cosines exact vs the brute cross join, and every
    pair co-celled under the train-side centroid assignment."""
    from mondrian_rest_spark.sources.registry import load_table
    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter("vec_id % 10 != 0")
    ev = emb.filter("vec_id % 10 = 0")
    got = similarity.semantic_contamination_pairs(
        train, ev, threshold=0.4, n_cells=8).collect()
    assert got, "expected some contamination pairs on the test data"
    for r in got:
        assert r.train_id % 10 != 0 and r.eval_id % 10 == 0
    # exact brute cross-set ground truth (superset; cosine-identical)
    a = train.select(F.col("vec_id").alias("train_id"),
                     F.col("embedding").alias("va"))
    b = ev.select(F.col("vec_id").alias("eval_id"),
                  F.col("embedding").alias("vb"))
    brute = similarity.with_cosine(a.crossJoin(b), "vb", "va")
    exact = {(r.train_id, r.eval_id): round(r.cosine, 6)
             for r in brute.filter("cosine >= 0.39").collect()}
    for r in got:
        assert exact[(r.train_id, r.eval_id)] == r.cosine


def test_rolling_active_users_sketch_tracks_exact(spark, sf_dir):
    """The mergeable-HLL rolling-actives path must track the exact
    form within the approx-distinct tolerance on every day, and both
    must dominate the single-day DAU (monotone in window size)."""
    from mondrian_rest_spark.sources.registry import load_table
    ev = load_table(spark, sf_dir, "events")
    exact = {r.day: r.active_users for r in
             windows.rolling_active_users(ev, window_days=7).collect()}
    approx = {r.day.date() if hasattr(r.day, "date") else r.day:
              r.active_users_approx for r in
              windows.rolling_active_users_sketch(ev, window_days=7)
              .collect()}
    assert len(exact) == len(approx)
    for day, n in exact.items():
        key = day.date() if hasattr(day, "date") else day
        a = approx[key]
        assert abs(a - n) <= max(2, 0.05 * n), (day, n, a)
    dau = {r.day: r.active_users for r in
           windows.rolling_active_users(ev, window_days=1).collect()}
    for day, n in dau.items():
        assert exact[day] >= n


@_settings(max_examples=10, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(train=_corpus, ev=_corpus, n=_st.sampled_from([2, 3]))
def test_contaminated_spans_matches_python_reference(spark, train, ev, n):
    """Property fuzz for the cross-set span path: train positions
    whose gram appears ANYWHERE in the eval set, merged — vs an
    independent Python reference."""
    from collections import defaultdict
    tdocs = [(i, t) for i, t in enumerate(train)]
    edocs = [(100 + i, t) for i, t in enumerate(ev)]
    eval_grams = set()
    for _, text in edocs:
        toks = text.split()
        eval_grams.update(tuple(toks[i:i + n])
                          for i in range(len(toks) - n + 1))
    expected = []
    for did, text in tdocs:
        toks = text.split()
        spans = []
        for i in range(max(len(toks) - n + 1, 0)):
            if tuple(toks[i:i + n]) not in eval_grams:
                continue
            s, e = i, i + n - 1
            if spans and s <= spans[-1][1] + 1:
                spans[-1] = [spans[-1][0], max(spans[-1][1], e),
                             spans[-1][2] + 1]
            else:
                spans.append([s, e, 1])
        expected.extend((did, s, e, e - s + 1, c) for s, e, c in spans)
    tdf = spark.createDataFrame(tdocs, ["doc_id", "text"])
    edf = spark.createDataFrame(edocs, ["doc_id", "text"])
    got = sorted((r.doc_id, r.span_start, r.span_end, r.span_tokens,
                  r.n_grams)
                 for r in dedup.contaminated_spans(tdf, edf, n=n)
                 .collect())
    assert got == sorted(expected)


def test_gopher_rules_per_rule_flags(spark):
    """Each crafted doc fails exactly ONE rule (the audit columns name
    the culprit) and only the clean doc survives the conjunction."""
    rows = [
        (1, "the cat sat on the mat and it was good here today"),  # clean
        (2, "the tiny one"),                                # word count
        (3, "the strangeness of incomprehensibilities notwithstanding "
            "extraordinarily disproportionately uncharacteristically "
            "institutionalization antidisestablishmentarianism blah"),
        # ellipsis spam rides on alphabetic words, so ONLY the symbol
        # rule fires (a bare '####' token would also sink alpha ratio)
        (4, "the cat... sat... on a mat today fine..."),
        # 4-char numerics keep mean word length >= 3 so only alpha fails
        (5, "1111 2222 3333 4444 5555 6666 7777 8888 9999 0000 the 1234"),
        (6, "cats dogs birds fish mice horses goats llamas yaks emus"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in textstats.gopher_rules(
        df, min_tokens=5, min_mean_word_len=3.0, max_mean_word_len=10.0,
        max_symbol_ratio=0.1, min_alpha_word_ratio=0.8,
        min_stopword_hits=1).collect()}
    assert out[1].kept
    flags = ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
             "r_alpha_words", "r_stopwords")
    assert all(getattr(out[1], f) for f in flags)
    expect_fail = {2: "r_word_count", 3: "r_mean_word_len",
                   4: "r_symbol_ratio", 5: "r_alpha_words",
                   6: "r_stopwords"}
    for doc, bad in expect_fail.items():
        assert not out[doc].kept, doc
        assert not getattr(out[doc], bad), (doc, bad)
        assert all(getattr(out[doc], f) for f in flags if f != bad), doc


def test_gopher_rules_zero_shuffle(spark, sf_dir):
    """The gate is a pure projection: no Exchange anywhere in the
    executed plan (whole-stage codegen end to end over the scan)."""
    from mondrian_rest_spark.sources.registry import load_table
    out = textstats.gopher_rules(load_table(spark, sf_dir, "documents"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_fertility_reconciles_with_token_stats(spark, sf_dir):
    """Per-language word/piece totals equal token_stats' sums grouped
    by lang — the two reports share one tokenization contract."""
    from mondrian_rest_spark.sources.registry import load_table
    docs = load_table(spark, sf_dir, "documents")
    fert = {r.lang: r for r in
            textstats.fertility_by_language(docs).collect()}
    ts = (textstats.token_stats(docs)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .groupBy("lang")
          .agg(F.sum("n_tokens").alias("w"),
               F.sum("n_subword_pieces").alias("p"),
               F.count("doc_id").alias("d"))).collect()
    assert len(fert) == len(ts) > 0
    for r in ts:
        f = fert[r.lang]
        assert (f.total_words, f.total_pieces, f.n_docs) == (r.w, r.p, r.d)
        assert f.fertility == round(r.p / max(r.w, 1), 6)


def test_event_transitions_matrix(spark):
    """Known per-user sequences produce the exact (from, to) counts;
    pairs never cross users; a same-microsecond tie breaks on
    event_id; probabilities row-normalize per from_type."""
    from datetime import datetime
    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # user 1: view -> click -> view
        (1, t(1), 10, "view"), (2, t(2), 10, "click"), (3, t(3), 10, "view"),
        # user 2: view -> click
        (4, t(1), 20, "view"), (5, t(2), 20, "click"),
        # user 3: two events in the SAME second/microsecond — event_id
        # order makes it purchase -> refund, deterministically
        (6, t(5), 30, "purchase"), (7, t(5), 30, "refund"),
        # user 4: single event, no transition
        (8, t(9), 40, "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    got = {(r.from_type, r.to_type): r
           for r in windows.event_transitions(df).collect()}
    assert set(got) == {("view", "click"), ("click", "view"),
                        ("purchase", "refund")}
    assert got[("view", "click")].n == 2
    assert got[("view", "click")].prob == 1.0
    assert got[("click", "view")].n == 1
    # user 2's click has no successor -> click row normalizes over 1
    assert got[("click", "view")].prob == 1.0
    assert got[("purchase", "refund")].n == 1


def test_self_perplexity_matches_python_reference(spark):
    """Bits-per-token equals an independent pure-Python replay of the
    add-one unigram model (lowercased whitespace tokens), and the
    stopword-dense doc scores more fluent than the rare-vocab doc."""
    import math, re
    from collections import Counter
    rows = [
        (1, "the cat and the dog and the cat"),
        (2, "zyxwvut qponmlk jihgfed abcdefg"),
        (3, "The CAT and the Dog"),
    ]
    toks = {i: [t.lower() for t in re.split(r"\s+", s.strip())]
            for i, s in rows}
    uni = Counter(t for ts in toks.values() for t in ts)
    n, v = sum(uni.values()), len(uni)
    expect = {}
    for i, ts in toks.items():
        bits = sum(-math.log2((uni[t] + 1.0) / (n + v)) for t in ts)
        expect[i] = (len(ts), round(bits / len(ts), 6),
                     round(2.0 ** (bits / len(ts)), 6))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_tokens, r.bits_per_token, r.ppl)
           for r in textstats.self_perplexity(df).collect()}
    assert got == expect
    # fluency ordering: repeated common words beat one-off gibberish
    assert got[1][1] < got[2][1]


def test_perplexity_filter_bands(spark):
    """NTILE bands are equal-frequency, ordered by fluency (band 1 =
    lowest bits), and ``kept`` is exactly the head+middle slice."""
    rows = [(i, "common words repeat here " * 3 + f"unique{i} " * i)
            for i in range(1, 10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textstats.perplexity_filter(df, n_buckets=3).collect()
    assert sorted(r.band for r in out) == [1, 1, 1, 2, 2, 2, 3, 3, 3]
    by_band = {b: [r.bits_per_token for r in out if r.band == b]
               for b in (1, 2, 3)}
    assert max(by_band[1]) <= min(by_band[2])
    assert max(by_band[2]) <= min(by_band[3])
    for r in out:
        assert r.kept == (r.band in (1, 2))


def test_cross_source_matrix_combinatorics(spark):
    """Pair counts are exact combinatorics on per-(hash, source)
    counts: C(n,2) within a source, n_a*n_b across — never enumerated
    pairs.  Hash 'X' has 3 copies in A and 2 in B; 'Y' has 2 in B."""
    rows = [(1, "X", "A"), (2, "X", "A"), (3, "X", "A"),
            (4, "X", "B"), (5, "X", "B"),
            (6, "Y", "B"), (7, "Y", "B"),
            (8, "Z", "A")]  # unique content contributes nothing
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {(r.source_a, r.source_b): (r.n_groups, r.n_pairs)
           for r in dedup.cross_source_matrix(df).collect()}
    assert got == {("A", "A"): (1, 3),   # C(3,2) for X
                   ("A", "B"): (1, 6),   # 3*2 for X
                   ("B", "B"): (2, 2)}   # C(2,2) for X + C(2,2) for Y


def test_cross_source_neardup_matrix_counts(spark):
    """Near-identical docs in different sources land in the cross cell;
    the unrelated doc appears nowhere."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(1, base + "alpha", "A"), (2, base + "beta", "B"),
            (3, "completely different content with nothing shared here "
                "at all in any shingle of this text", "C")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = dedup.cross_source_neardup_matrix(df, threshold=0.5)
    got = {(r.source_a, r.source_b): r.n_pairs for r in out.collect()}
    dedup.unpersist_request_frames(out)
    assert got == {("A", "B"): 1}


def test_funnel_timing_matches_manual_walk(spark):
    """Latencies follow the same first-touch walk as funnel(): user 10
    converts view->click in 60s and click->purchase in 120s; user 20
    only reaches click (600s); user 30 never clicks."""
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "view"), (2, t0 + timedelta(seconds=60), 10, "click"),
        (3, t0 + timedelta(seconds=180), 10, "purchase"),
        (4, t0, 20, "view"), (5, t0 + timedelta(seconds=600), 20, "click"),
        (6, t0, 30, "view"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    got = {r.step_idx: r for r in windows.funnel_timing(
        df, ("view", "click", "purchase"), within="7 days").collect()}
    assert got[2].step == "view->click"
    assert got[2].users == 2
    assert got[2].avg_seconds == 330.0      # (60 + 600) / 2
    assert got[2].p50_seconds == 330.0      # interpolated median of 2
    assert got[3].step == "click->purchase"
    assert got[3].users == 1
    assert got[3].avg_seconds == 120.0
    assert got[3].p50_seconds == 120.0


def test_funnel_timing_agrees_with_funnel_counts(spark, sf_dir):
    """The timing report's user counts equal funnel()'s step counts on
    the real events table — one attribution walk, two reports."""
    from mondrian_rest_spark.sources.registry import load_table
    ev = load_table(spark, sf_dir, "events")
    steps = ("view", "click", "purchase")
    f = {r.step_idx: r.users for r in
         windows.funnel(ev, steps, within="7 days").collect()}
    t = {r.step_idx: r.users for r in
         windows.funnel_timing(ev, steps, within="7 days").collect()}
    assert t == {2: f[2], 3: f[3]}


def test_props_value_stats(spark):
    """JSON extraction: missing and malformed payloads count as events
    but not as prop values; sums/avgs cover only parsed values."""
    rows = [(1, "view", '{"k": 10}'), (2, "view", '{"k": 20}'),
            (3, "view", None), (4, "click", '{"other": 1}'),
            (5, "click", '{"k": 7}'), (6, "click", "not json")]
    df = spark.createDataFrame(rows, ["event_id", "event_type", "props"])
    got = {r.event_type: r for r in
           windows.props_value_stats(df).collect()}
    v = got["view"]
    assert (v.n_events, v.n_with_prop, v.sum_val, v.avg_val,
            v.min_val, v.max_val) == (3, 2, 30, 15.0, 10, 20)
    c = got["click"]
    assert (c.n_events, c.n_with_prop, c.sum_val) == (3, 1, 7)


def test_score_against_lm_oov_and_python_reference(spark):
    """Frozen-LM scoring: values equal a pure-Python replay with the
    add-one floor for unseen tokens, and OOV counts are exact."""
    import math
    from collections import Counter
    ref_rows = [(1, "the cat sat"), (2, "the dog sat")]
    cand_rows = [(10, "the cat"), (11, "qqq zzz"), (12, "the qqq")]
    lm_toks = [t for _, s in ref_rows for t in s.split()]
    uni = Counter(lm_toks)
    n, v = sum(uni.values()), len(uni)
    expect = {}
    for i, s in cand_rows:
        ts = s.split()
        bits = sum(-math.log2((uni.get(t, 0) + 1.0) / (n + v + 1.0))
                   for t in ts)
        oov = sum(1 for t in ts if t not in uni)
        expect[i] = (len(ts), oov, round(bits / len(ts), 6),
                     round(2.0 ** (bits / len(ts)), 6))
    ref = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    cand = spark.createDataFrame(cand_rows, ["doc_id", "text"])
    lm = textstats.unigram_lm(ref)
    got = {r.doc_id: (r.n_tokens, r.oov_tokens, r.bits_per_token, r.ppl)
           for r in textstats.score_against_lm(cand, lm).collect()}
    assert got == expect
    # all-OOV doc is the most surprising, in-vocab doc the least
    assert got[10][2] < got[12][2] < got[11][2]


@_settings(max_examples=10, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(corpus=_corpus)
def test_self_perplexity_property_fuzz(spark, corpus):
    """Random corpora: bits-per-token always equals the pure-Python
    add-one unigram replay (tokenization quirks included — empty
    texts tokenize to [''] on both sides)."""
    import math
    import re
    from collections import Counter
    rows = [(i, s) for i, s in enumerate(corpus)]
    toks = {i: [t.lower() for t in re.split(r"\s+", s.strip())]
            for i, s in rows}
    uni = Counter(t for ts in toks.values() for t in ts)
    n, v = sum(uni.values()), len(uni)
    expect = {}
    for i, ts in toks.items():
        bits = sum(-math.log2((uni[t] + 1.0) / (n + v)) for t in ts)
        expect[i] = (len(ts), round(bits / len(ts), 6))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_tokens, r.bits_per_token)
           for r in textstats.self_perplexity(df).collect()}
    assert got == expect


_event_seqs = _st.lists(
    _st.tuples(_st.integers(min_value=1, max_value=4),      # user
               _st.integers(min_value=0, max_value=20),     # second
               _st.sampled_from(["view", "click", "buy"])),
    min_size=1, max_size=24)


@_settings(max_examples=10, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(evs=_event_seqs)
def test_event_transitions_property_fuzz(spark, evs):
    """Random event sets (with same-timestamp collisions): the
    transition counts equal a pure-Python walk ordered by
    (ts, event_id), and probabilities normalize per from_type."""
    from collections import Counter, defaultdict
    from datetime import datetime
    rows = [(i, datetime(2024, 1, 1, 0, 0, sec), u, t)
            for i, (u, sec, t) in enumerate(evs)]
    per_user = defaultdict(list)
    for eid, ts, u, t in rows:
        per_user[u].append((ts, eid, t))
    expect = Counter()
    for u, seq in per_user.items():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            expect[(a, b)] += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    got = {(r.from_type, r.to_type): r
           for r in windows.event_transitions(df).collect()}
    assert {k: r.n for k, r in got.items()} == dict(expect)
    by_from = defaultdict(float)
    for (a, _b), r in got.items():
        by_from[a] += r.prob
    for a, s in by_from.items():
        assert abs(s - 1.0) < 1e-4, (a, s)


def test_session_stats_crafted_sessions(spark):
    """Two users, three sessions with known shapes: user 1 has a
    2-event 90s session and a later 1-event bounce; user 2 has one
    3-event 600s session.  Summary aggregates are exact."""
    from datetime import datetime, timedelta
    t0 = datetime(2024, 1, 1)
    rows = [
        (1, t0, 10, "view"),
        (2, t0 + timedelta(seconds=90), 10, "click"),
        (3, t0 + timedelta(hours=5), 10, "view"),          # bounce
        (4, t0, 20, "view"),
        (5, t0 + timedelta(seconds=300), 20, "click"),
        (6, t0 + timedelta(seconds=600), 20, "buy"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    r = windows.session_stats(df, "30 minutes").collect()[0]
    assert (r.n_sessions, r.n_users, r.n_events) == (3, 2, 6)
    assert r.avg_events == 2.0
    assert r.avg_seconds == round((90 + 0 + 600) / 3, 6)
    assert r.p50_seconds == 90.0
    assert r.bounce_rate == round(1 / 3, 6)


def test_write_curated_corpus_layout(spark, sf_dir, tmp_path):
    """Sink contract: Hive partition dirs per lang, file-size cap
    respected, rows sorted by doc_id within each file, and the
    file-derived manifest reconciles with the source table."""
    import os

    import pyarrow.parquet as pq

    from mondrian_rest_spark.operators import pipeline
    from mondrian_rest_spark.sources.registry import load_table
    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "curated")
    pipeline.write_curated_corpus(docs, path, partition_by=("lang",),
                                  sort_by="doc_id",
                                  max_records_per_file=40)
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert dirs == {f"lang={l}" for l in langs}
    src = {r.lang: (r.n, r.c) for r in
           docs.groupBy("lang").agg(
               F.count(F.lit(1)).alias("n"),
               F.sum(F.length("text")).alias("c")).collect()}
    man = {r.lang: r for r in
           pipeline.corpus_manifest(spark, path).collect()}
    assert set(man) == langs
    checked_sorted = False
    for lang, (n, c) in src.items():
        m = man[lang]
        assert (m.n_docs, m.n_chars) == (n, c), lang
        # cap: every file <= 40 rows, and a >40-doc lang splits
        files = [f for f in os.listdir(os.path.join(path, f"lang={lang}"))
                 if f.endswith(".parquet")]
        assert m.n_files == len(files)
        if n > 40:
            assert len(files) > 1, lang
        for f in files:
            t = pq.read_table(os.path.join(path, f"lang={lang}", f),
                              columns=["doc_id"])
            ids = t.column("doc_id").to_pylist()
            assert len(ids) <= 40, (lang, f, len(ids))
            assert ids == sorted(ids), (lang, f)
            checked_sorted = True
    assert checked_sorted


def test_contamination_by_benchmark_attribution(spark):
    """Spans attribute to the RIGHT benchmark; a train doc quoting two
    benchmarks shows up under both; islands never fuse across
    benchmarks even when their hits overlap in the train doc."""
    evalset = spark.createDataFrame(
        [(100, "ALPHA ONE TWO THREE FOUR", "benchA"),
         (101, "BETA ONE TWO THREE FOUR", "benchB")],
        ["doc_id", "text", "source"])
    train = spark.createDataFrame(
        [(1, "x ALPHA ONE TWO THREE FOUR y BETA ONE TWO THREE FOUR z"),
         (2, "clean text with nothing quoted from any benchmark here"),
         (3, "ALPHA ONE TWO THREE FOUR")],
        ["doc_id", "text"])
    got = {r.benchmark: r for r in dedup.contamination_by_benchmark(
        train, evalset, n=5).collect()}
    assert set(got) == {"benchA", "benchB"}
    a, b = got["benchA"], got["benchB"]
    assert a.n_train_docs == 2 and a.n_spans == 2
    assert a.contaminated_tokens == 10      # 5 tokens in docs 1 and 3
    assert b.n_train_docs == 1 and b.n_spans == 1
    assert b.contaminated_tokens == 5


def test_vocab_coverage_monotone_and_exact(spark):
    """Coverage is exact on a crafted Zipf-ish corpus, monotone in k,
    and distinct_tokens flags a vocab smaller than the budget."""
    # counts: the=6, cat=3, dog=2, emu=1  (total 12, vocab 4)
    rows = [(1, "the the the cat cat dog"),
            (2, "the the the cat dog emu")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.k: r for r in
           textstats.vocab_coverage(df, ks=(1, 2, 10)).collect()}
    assert out[1].covered_tokens == 6
    assert out[1].coverage == 0.5
    assert out[2].covered_tokens == 9
    assert out[2].coverage == 0.75
    assert out[10].covered_tokens == 12
    assert out[10].coverage == 1.0
    assert out[10].distinct_tokens == 4     # vocab smaller than budget
    assert out[1].total_tokens == out[10].total_tokens == 12
    covs = [out[k].coverage for k in (1, 2, 10)]
    assert covs == sorted(covs)


def test_image_dhash_neardup_pairs(spark):
    """Perceptual dedup: an exact PNG copy pairs at hamming 0, a
    lightly perturbed copy pairs within the banding budget, a
    different image and a non-PNG payload produce no pairs."""
    from mondrian_rest_spark.operators import media_codec, multimodal
    w, h = 32, 24
    # smooth gradient image (structure for dHash to latch onto)
    base = bytes(((x * 8 + y * 3) % 256)
                 for y in range(h) for x in range(w) for _ in range(3))
    # perturb a few pixels slightly (valid perceptual near-dup)
    pert = bytearray(base)
    for i in range(0, 30, 3):
        pert[i] = (pert[i] + 6) % 256
    # structurally different image
    other = bytes(((x * 37 + y * 91 + (x * y) % 7 * 40) % 256)
                  for y in range(h) for x in range(w) for _ in range(3))
    rows = [
        (1, "image", media_codec.png_encode(base, w, h, 3), "image/png"),
        (2, "image", media_codec.png_encode(base, w, h, 3), "image/png"),
        (3, "image", media_codec.png_encode(bytes(pert), w, h, 3),
         "image/png"),
        (4, "image", media_codec.png_encode(other, w, h, 3), "image/png"),
        (5, "video", b"\x00\x01notpng", "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    hashes = {r.media_id: r.dhash
              for r in multimodal.image_dhash(df).collect()}
    assert hashes[1] == hashes[2]           # identical bytes, same hash
    assert hashes[5] is None                # non-PNG refuses, not guesses
    assert hashes[1] != hashes[4]
    # batch independence: the hash must be bit-identical whether or
    # not a null-hash (non-PNG) row shares the Arrow batch — a
    # float64 round-trip in the Int64 conversion once rounded the
    # 53rd+ bit and broke cross-batch joins
    solo = {r.media_id: r.dhash for r in multimodal.image_dhash(
        df.filter(F.col("media_id") == 4)).collect()}
    assert solo[4] == hashes[4]
    out = multimodal.image_neardup_dhash(df, max_hamming=3)
    pairs = {(r.a_id, r.b_id): r.hamming for r in out.collect()}
    from mondrian_rest_spark.operators import dedup
    dedup.unpersist_request_frames(out)
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p or 5 in p for p in pairs)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        multimodal.image_neardup_dhash(df, max_hamming=10)


def test_audio_energy_hash_neardup(spark):
    """Audio fingerprint: an exact WAV copy pairs at hamming 0, a
    re-gained-in-one-frame copy stays within the banding budget, a
    different envelope and a non-WAV payload produce no pairs, and
    the hash is batch-independent (the Int64 float-rounding trap)."""
    from mondrian_rest_spark.operators import media_codec, multimodal
    import math
    base = [int(900 * math.sin(j / 7.0)) + (j % 13) * 40
            for j in range(65 * 4)]
    pert = list(base)
    for j in range(4):                       # louden one frame only
        pert[j] = min(pert[j] + 350, 32767)
    other = [((j * 911) % 1900) - 950 for j in range(65 * 4)]
    rows = [
        (1, "audio", media_codec.wav_encode(base), "audio/wav"),
        (2, "audio", media_codec.wav_encode(base), "audio/wav"),
        (3, "audio", media_codec.wav_encode(pert), "audio/wav"),
        (4, "audio", media_codec.wav_encode(other), "audio/wav"),
        (5, "video", b"\x00notwav", "application/octet-stream"),
    ]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    hashes = {r.media_id: r.ahash
              for r in multimodal.audio_energy_hash(df).collect()}
    assert hashes[1] == hashes[2]
    assert hashes[5] is None
    assert hashes[1] != hashes[4]
    solo = {r.media_id: r.ahash for r in multimodal.audio_energy_hash(
        df.filter(F.col("media_id") == 4)).collect()}
    assert solo[4] == hashes[4]              # batch independence
    out = multimodal.audio_neardup_hash(df, max_hamming=3)
    pairs = {(r.a_id, r.b_id): r.hamming for r in out.collect()}
    dedup.unpersist_request_frames(out)
    assert pairs[(1, 2)] == 0
    assert (1, 3) in pairs and pairs[(1, 3)] <= 3
    assert not any(4 in p or 5 in p for p in pairs)


def test_daily_anomalies_spike_flags(spark):
    """A varying baseline then a 10x spike: the spike day flags with a
    computed z; a FLAT baseline (variance 0) still flags any deviation
    (z null, is_anomaly true); matching-the-flat-mean days are False;
    the first days (insufficient history) stay null/null."""
    from datetime import datetime, timedelta
    rows, eid = [], 0
    t0 = datetime(2024, 1, 1)
    view = [48, 50, 52, 48, 50, 52, 48, 50, 500]   # varying + spike
    click = [30, 30, 30, 30, 30, 30, 30, 30, 31]   # flat + tiny bump
    for day, (nv, nc) in enumerate(zip(view, click)):
        for typ, n in (("view", nv), ("click", nc)):
            for j in range(n):
                eid += 1
                rows.append((eid, t0 + timedelta(days=day, seconds=j),
                             j % 5, typ))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    out = {(r.event_type, r.day.day): r for r in
           windows.daily_count_anomalies(df, window_days=7).collect()}
    spike = out[("view", 9)]
    assert spike.is_anomaly and spike.z > 3
    flat_bump = out[("click", 9)]
    assert flat_bump.is_anomaly and flat_bump.z is None
    assert out[("click", 8)].is_anomaly is False   # matches flat mean
    for d in (1, 2, 3):                            # <3 prior days
        for typ in ("view", "click"):
            r = out[(typ, d)]
            assert r.z is None and r.is_anomaly is None, (typ, d)


@_settings(max_examples=10, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(evs=_event_seqs)
def test_funnel_first_touch_property_fuzz(spark, evs):
    """Random event sets: funnel() step counts AND funnel_timing()
    latencies both equal an independent pure-Python first-touch walk
    (earliest step-1 anchor; each later step the earliest strictly
    after the previous, within the global deadline)."""
    from collections import defaultdict
    from datetime import datetime, timedelta
    steps = ("view", "click", "buy")
    rows = [(i, datetime(2024, 1, 1, 0, 0, sec), u, t)
            for i, (u, sec, t) in enumerate(evs)]
    per_user = defaultdict(list)
    for eid, ts, u, t in rows:
        per_user[u].append((ts, t))
    walks = {}
    for u, seq in per_user.items():
        s1 = [ts for ts, t in seq if t == steps[0]]
        if not s1:
            continue
        t1 = min(s1)
        walk = [t1]
        deadline = t1 + timedelta(days=7)
        prev = t1
        for st in steps[1:]:
            nxt = [ts for ts, t in seq
                   if t == st and prev < ts <= deadline]
            if not nxt:
                break
            prev = min(nxt)
            walk.append(prev)
        walks[u] = walk
    exp_counts = [sum(1 for w in walks.values() if len(w) > k)
                  for k in range(3)]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type"])
    got = {r.step_idx: r.users for r in
           windows.funnel(df, steps, within="7 days").collect()}
    assert [got[1], got[2], got[3]] == exp_counts
    # timing: mean/median of the per-user step latencies, in seconds
    timing = {r.step_idx: r for r in
              windows.funnel_timing(df, steps, within="7 days").collect()}
    for k in (2, 3):
        lats = sorted((w[k - 1] - w[k - 2]).total_seconds()
                      for w in walks.values() if len(w) >= k)
        t = timing[k]
        assert t.users == len(lats)
        if not lats:
            assert t.avg_seconds is None and t.p50_seconds is None
            continue
        assert t.avg_seconds == round(sum(lats) / len(lats), 6)
        n = len(lats)
        if n % 2:
            med = lats[n // 2]
        else:
            med = (lats[n // 2 - 1] + lats[n // 2]) / 2
        assert t.p50_seconds == round(med, 6)


@_settings(max_examples=10, deadline=None,
           suppress_health_check=[_HC.function_scoped_fixture,
                                  _HC.too_slow])
@_given(corpus=_corpus)
def test_gopher_rules_property_fuzz(spark, corpus):
    """Random corpora: every audit column and the kept conjunction
    equal a pure-Python replay of the rule battery."""
    import re
    rows = [(i, s) for i, s in enumerate(corpus)]
    sw = set(textstats.STOPWORDS["en"])
    expect = {}
    for i, s in rows:
        toks = re.split(r"\s+", s.strip())
        nt = len(toks)
        d = max(nt, 1)
        mean_wl = round(sum(len(t) for t in toks) / d, 6)
        sym = round((s.count("#")
                     + (len(s) - len(s.replace("...", ""))) / 3 / 1) / d, 6)
        alpha = round(sum(1 for t in toks
                          if re.search("[A-Za-z]", t)) / d, 6)
        hits = len(set(toks) & sw)
        r = (3 <= nt <= 100, 2.0 <= mean_wl <= 8.0, sym <= 0.1,
             alpha >= 0.5, hits >= 1)
        expect[i] = (nt, mean_wl, sym, alpha, hits, *r, all(r))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_tokens, r.mean_word_len, r.symbol_ratio,
                      r.alpha_word_ratio, r.stopword_hits,
                      r.r_word_count, r.r_mean_word_len,
                      r.r_symbol_ratio, r.r_alpha_words, r.r_stopwords,
                      r.kept)
           for r in textstats.gopher_rules(
               df, min_tokens=3, max_tokens=100,
               min_mean_word_len=2.0, max_mean_word_len=8.0,
               max_symbol_ratio=0.1, min_alpha_word_ratio=0.5,
               min_stopword_hits=1).collect()}
    assert got == expect
