"""Invariant tests for the approximate LLM ops (no SQL oracle possible):
MinHash-LSH candidate quality, SimHash locality, ANN recall vs the exact
brute-force top-k."""

from __future__ import annotations

from pyspark.sql import functions as F

from mysqldump_to_parquet_spark.llm.dedup import (
    dedup_near_minhash,
    dedup_simhash,
)
from mysqldump_to_parquet_spark.llm.similarity import sim_topk

SF = "/root/testdata/sf0.001"


def test_minhash_finds_planted_duplicate(spark, tmp_path):
    """Plant a near-duplicate pair and check LSH surfaces it."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    base = docs.limit(50)
    # duplicate doc 0's text under a new id with one token changed
    src = base.where(F.col("doc_id") == 0).select("text").collect()[0][0]
    mutated = " ".join(["ZZZ"] + src.split(" ")[1:])
    extra = spark.createDataFrame(
        [(100000, mutated, "en", "srcX", len(mutated))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    planted_dir = str(tmp_path / "docs")
    base.unionByName(extra).write.parquet(f"{planted_dir}/documents.parquet")

    pairs = dedup_near_minhash(spark, planted_dir).collect()
    assert any(
        (r.doc_a == 0 and r.doc_b == 100000) for r in pairs
    ), f"planted near-dup not found in {len(pairs)} pairs"
    # no self-pairs, ordered pairs only
    assert all(r.doc_a < r.doc_b for r in pairs)


def test_minhash_bucket_cap_bounds_degenerate_corpus(spark, tmp_path):
    """1 000 identical docs share every LSH band: without the
    MH_MAX_BUCKET cap the self-join would enumerate ~8×C(1000,2) ≈ 4M
    candidate rows.  With the cap the degenerate buckets are dropped
    entirely (identical docs are exact-dedup's job) and the planted
    *near*-dup pair in a small bucket still surfaces."""
    rows = [(i, "lorem ipsum dolor " * 20, "en", "dup", 360) for i in range(1000)]
    uniq = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    near = " ".join(["ZZZ"] + uniq.split(" ")[1:])
    rows += [(5000, uniq, "en", "u", len(uniq)), (5001, near, "en", "u", len(near))]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(f"{d}/documents.parquet")

    pairs = dedup_near_minhash(spark, d).collect()
    # the 1000-identical-doc clique must NOT explode into ~500k pairs
    assert len(pairs) < 100, f"bucket cap failed: {len(pairs)} candidate pairs"
    assert any(r.doc_a == 5000 and r.doc_b == 5001 for r in pairs)


def test_simhash_locality(spark):
    """Identical token multisets → identical simhash; the fingerprint is a
    64-bit value with all bands derived consistently."""
    out = dedup_simhash(spark, SF).collect()
    assert len(out) == 500
    by_id = {r.doc_id: r for r in out}
    for r in out[:20]:
        packed = 0
        for i in range(4):
            packed |= (getattr(r, f"band{i}") & 0xFFFF) << (16 * i)
        assert packed == r.simhash & 0xFFFFFFFFFFFFFFFF
    # determinism: rerun produces identical fingerprints
    again = {r.doc_id: r.simhash for r in dedup_simhash(spark, SF).collect()}
    assert all(again[i] == by_id[i].simhash for i in by_id)


def test_ivf_recall_vs_exact(spark):
    """IVF probing 25% of the corpus-adaptive grid must recall most of
    the exact top-10 (measured 0.8 at sf0.001 with the r10 adaptive
    grid)."""
    from mysqldump_to_parquet_spark.llm.similarity import sim_ann_ivf

    exact = [r.vec_id for r in sim_topk(spark, SF).collect()]
    approx = [r.vec_id for r in sim_ann_ivf(spark, SF).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.3, f"recall {recall} (exact={exact}, approx={approx})"


#: Pinned recall bounds on the sf0.01 driver fixture (VERDICT r4 item 6):
#: every rows-only approx key carries a quantitative quality number vs its
#: exact twin, recorded in COVERAGE.md.  Measured round 5: IVF 0.8 after
#: the 64-cell/probe-16 requantization (same 25% scan fraction as the old
#: 16/4 which measured 0.7; was 0.1 before the spherical fix); round 10's
#: corpus-adaptive grid (min(4√n, n/8)) re-measured 0.8/0.8/1.0 across
#: sf0.001/0.01/0.1.  dedup_near 1.0 (25/25 true pairs).  Bounds sit
#: below the measured values only enough to absorb minor fixture
#: regeneration drift, not algorithmic regression.
SF_RECALL = "/root/testdata/sf0.01"


def test_ann_recall_bounds_sf001(spark):
    """sf0.01 recall@10 floor: IVF ≥ 0.7 (spherical coarse quantizer,
    corpus-adaptive grid — min(4√n, n/8) = 62 cells / nprobe 16 at
    n=500, 25% scanned, measured 0.8)."""
    from mysqldump_to_parquet_spark.llm.similarity import sim_ann_ivf

    exact = set(r.vec_id for r in sim_topk(spark, SF_RECALL).collect())
    ivf = set(r.vec_id for r in sim_ann_ivf(spark, SF_RECALL).collect())
    assert len(exact & ivf) / 10 >= 0.7, f"IVF recall {len(exact & ivf) / 10}"


def test_dedup_near_recall_vs_exact_truth(spark):
    """q_dedup_near against the EXACT all-pairs truth set on sf0.01: every
    pair with true (hashed-shingle) Jaccard ≥ 0.4 must be found — with
    B=8/R=2 banding the per-pair miss probability at s=0.4 is
    (1−s²)⁸ ≈ 0.25, but the seeds are fixed, so the outcome is
    deterministic and measured recall is 25/25 = 1.0; precision is
    guaranteed by the exact verify stage."""
    from mysqldump_to_parquet_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        _shingles,
    )

    docs = spark.read.parquet(f"{SF_RECALL}/documents.parquet")
    sh = (
        _shingles(docs)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(shingles, s -> xxhash64(s)))"
            ).alias("hs"),
        )
        .where(F.expr("size(hs) > 0"))
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                (
                    F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
                    / F.size(F.array_union("hs_a", "hs_b")).cast("double")
                ).alias("j"),
            )
            .where(F.col("j") >= JACCARD_THRESHOLD)
        ).collect()
    }
    found = {
        (r.doc_a, r.doc_b)
        for r in dedup_near_minhash(spark, SF_RECALL).collect()
    }
    assert len(truth) == 25, f"fixture drift: {len(truth)} truth pairs"
    recall = len(truth & found) / len(truth)
    assert recall == 1.0, f"recall {recall}: missed {truth - found}"
    # precision: the verify stage is exact, so no found pair is false
    assert found <= truth


def test_simhash_separates_true_pairs_sf001(spark):
    """Quantitative simhash quality on sf0.01 (the last rows-only key to
    get a pinned number): every one of the 25 true near-dup pairs
    (exact Jaccard ≥ 0.4) lands within Hamming distance 8 of its twin
    (measured max 5), while random pairs sit far away (measured median
    18, 5th percentile 11) — the locality a Hamming-radius dedup at
    scale relies on."""
    import random

    from mysqldump_to_parquet_spark.llm.dedup import (
        JACCARD_THRESHOLD,
        _shingles,
        dedup_simhash,
    )

    docs = spark.read.parquet(f"{SF_RECALL}/documents.parquet")
    sh = (
        _shingles(docs)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform(shingles, s -> xxhash64(s)))"
            ).alias("hs"),
        )
        .where(F.expr("size(hs) > 0"))
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    truth = [
        (r.doc_a, r.doc_b)
        for r in (
            a.join(b, F.col("doc_a") < F.col("doc_b"))
            .select(
                "doc_a",
                "doc_b",
                (
                    F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
                    / F.size(F.array_union("hs_a", "hs_b")).cast("double")
                ).alias("j"),
            )
            .where(F.col("j") >= JACCARD_THRESHOLD)
        ).collect()
    ]
    assert len(truth) == 25
    sims = {r.doc_id: r.simhash for r in dedup_simhash(spark, SF_RECALL).collect()}

    def ham(x: int, y: int) -> int:
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    for x, y in truth:
        assert ham(sims[x], sims[y]) <= 8, (x, y, ham(sims[x], sims[y]))
    rng = random.Random(7)
    ids = list(sims)
    rand = sorted(
        ham(sims[rng.choice(ids)], sims[rng.choice(ids)]) for _ in range(500)
    )
    assert rand[len(rand) // 2] >= 12, f"random median {rand[len(rand) // 2]}"


def test_dedup_near_candidates_deterministic(spark):
    """The LSH candidate stage (q_dedup_near_candidates) is exact and
    partition-independent: same pair set under a different shuffle
    layout, and a superset of the verified near-dup pairs."""
    from mysqldump_to_parquet_spark.llm.dedup import dedup_near_candidates

    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup_near_candidates(spark, SF_RECALL).collect()
    }
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        again = {
            (r.doc_a, r.doc_b)
            for r in dedup_near_candidates(spark, SF_RECALL).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert cands == again
    final = {
        (r.doc_a, r.doc_b)
        for r in dedup_near_minhash(spark, SF_RECALL).collect()
    }
    assert final <= cands


def test_dedup_near_candidates_skips_shingle_persist(spark):
    """The candidates-only path must not cache the shingle-hash table
    (ADVICE r5): its single consumer is the minhash stage, so a persist
    there pins the full variable-width table in storage for the session
    with nothing reading it back.  Only the fixed-width band table (read
    by both self-join sides) may be cached."""
    from mysqldump_to_parquet_spark.llm.dedup import dedup_near_candidates

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    # Snapshot what's pinned BEFORE the run and assert only on the DELTA:
    # an absolute `== 0` check races Spark's asynchronous ContextCleaner —
    # localCheckpoint RDDs left by earlier tests (BFS, BPE) are not
    # catalog entries and are unpinned only after Python GC + async
    # cleanup, so they can be transiently visible here (VERDICT r8 #1:
    # failed 1-of-2 identically-ordered runs).  Pre-existing entries can
    # only *disappear* mid-run (pinning is synchronous at persist /
    # localCheckpoint time), so the id-filtered delta is race-free.
    pre = {info.id() for info in jsc.getRDDStorageInfo()}
    dedup_near_candidates(spark, SF_RECALL).count()
    new = [c for c in jsc.getRDDStorageInfo() if c.id() not in pre]
    assert len(new) == 1, [str(c.name()) for c in new]
    spark.catalog.clearCache()


def test_ivf_quantizer_fit_once(spark, monkeypatch):
    """The coarse quantizer is fit exactly once per corpus: after the first
    probe the centroids are cached, and a second probe must not invoke
    KMeans at all (its plan has no fit stage)."""
    import pyspark.ml.clustering as mlc

    from mysqldump_to_parquet_spark.llm import similarity as S

    first = S.ivf_centroids(spark, SF)  # fits (or reuses an earlier fit)

    def _boom(*a, **kw):  # any further fit attempt is a bug
        raise AssertionError("KMeans re-fit on a warm IVF cache")

    monkeypatch.setattr(mlc, "KMeans", _boom)
    again = S.ivf_centroids(spark, SF)
    assert again is first
    out = S.sim_ann_ivf(spark, SF).collect()  # probe runs fit-free
    assert 0 < len(out) <= 10


def test_ivf_fit_sample_layout_independent(spark, tmp_path, monkeypatch):
    """The quantizer fit must survive an ADVERSARIALLY SORTED corpus
    (VERDICT r8 #2): with the old ``limit(N)`` "sample", a corpus written
    sorted by any correlate of the embedding fits k-means on one biased
    region.  Sort sf0.01 by cosine-to-probe (the worst layout for
    first-N: the fit never sees the probe's neighborhood), bound the fit
    sample below the corpus size so sampling actually engages, and pin
    recall@10 ≥ 0.7 (measured 0.9 with the seeded uniform sample at
    n=300/500; the limit-fit lottery on this layout is what the seeded
    sample removes)."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    src = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sorted_dir = str(tmp_path / "sorted_corpus")
    (
        src.withColumn("c", S.cosine_expr(dbl, S._probe_col()))
        .orderBy("c")
        .drop("c")
        .coalesce(1)
        .write.parquet(f"{sorted_dir}/embeddings.parquet")
    )
    monkeypatch.setattr(S, "IVF_FIT_SAMPLE", 300)
    exact = {r.vec_id for r in sim_topk(spark, SF_RECALL).collect()}
    approx = {r.vec_id for r in S.sim_ann_ivf(spark, sorted_dir).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.7, f"recall {recall} on sorted corpus"


def test_ivf_partitioned_layout_equals_in_memory_and_prunes(spark):
    """The written IVF layout (q_sim_ann_ivf_partitioned): write-time and
    probe-time assignment share the cached centroids and the same UDF,
    so the pruned read's top-10 must EQUAL sim_ann_ivf's exactly, and
    the cell predicate must reach the scan as a PartitionFilter with
    fewer files read than the layout holds."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    mem = [
        (r.vec_id, r.label, r.cosine)
        for r in S.sim_ann_ivf(spark, SF_RECALL).collect()
    ]
    part = [
        (r.vec_id, r.label, r.cosine)
        for r in S.sim_ann_ivf_partitioned(spark, SF_RECALL).collect()
    ]
    assert part == mem

    out = S._ivf_layout_dir(spark, SF_RECALL)
    cells = S._ivf_probe_cells(S.ivf_centroids(spark, SF_RECALL))
    probed = spark.read.parquet(out).where(F.col("cell").isin(cells))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]

    def _files_read(df) -> int:
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                total += m.apply("numFiles").value()
        return total

    n_all = _files_read(spark.read.parquet(out))
    n_probed = _files_read(
        spark.read.parquet(out).where(F.col("cell").isin(cells))
    )
    assert 0 < n_probed < n_all


def test_ivf_layout_is_int8_codes_and_probe_bytes_shrink(spark, tmp_path):
    """The written IVF layout stores int8 codes, not float vectors
    (VERDICT r10 #2): schema is exactly (vec_id, code, cell) with code
    array<tinyint>, and the per-row bytes a probe reads (the code) are
    ≤ 1/3 of the float embedding's — measured by an
    encoder-matched A/B (same rows, same writer, one file each, so the
    ratio is the schema's, not the fixture's 12-row-per-cell-file
    metadata overhead).  The FAISS code-index + refine-from-source
    recipe."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysqldump_to_parquet_spark.llm import similarity as S

    out = S._ivf_layout_dir(spark, SF_RECALL)
    df = spark.read.parquet(out)
    assert sorted(df.columns) == ["cell", "code", "vec_id"]
    assert dict(df.dtypes)["code"] == "array<tinyint>"

    # encoder-matched A/B from the real corpus rows
    emb = spark.read.parquet(
        os.path.join(SF_RECALL, "embeddings.parquet")
    ).select("vec_id", "embedding").toPandas()
    mat = np.vstack(emb["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    unit = mat / np.where(norms > 0, norms, 1.0)[:, None]
    codes, _ = S._quantize_codes(unit)

    f_float = str(tmp_path / "float.parquet")
    f_code = str(tmp_path / "code.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": emb["vec_id"].to_numpy(),
                "embedding": pa.array(
                    list(mat.astype(np.float32)),
                    type=pa.list_(pa.float32()),
                ),
            }
        ),
        f_float,
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": emb["vec_id"].to_numpy(),
                "code": pa.array(list(codes), type=pa.list_(pa.int8())),
            }
        ),
        f_code,
    )
    def col_bytes(path, prefixes):
        md = pq.ParquetFile(path).metadata
        tot = 0
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                if any(col.path_in_schema.startswith(p) for p in prefixes):
                    tot += col.total_compressed_size
        return tot

    probe_bytes = col_bytes(f_code, ("code",))
    emb_bytes = col_bytes(f_float, ("embedding",))
    assert probe_bytes > 0 < emb_bytes
    assert probe_bytes <= emb_bytes / 3, (
        f"probe reads {probe_bytes} B of codes vs {emb_bytes} B of floats"
    )


def test_ann_probes_concurrent_equal_serial(spark):
    """8 threads probing the written IVF layout through the REAL
    registry function return results identical to the serial probe
    (VERDICT r11 #3: a deployed index serves many queries; the
    layout/fit caches must serve warm hits lock-free and build cold
    state exactly once under contention — similarity.py:_cached_layout).
    Aggregate-QPS numbers live in SCALING.md (tools/ann_qps.py)."""
    from concurrent.futures import ThreadPoolExecutor

    from mysqldump_to_parquet_spark.llm import similarity as S

    def rows(fn):
        return [
            (r.vec_id, r.label, r.cosine)
            for r in fn(spark, SF_RECALL).collect()
        ]

    serial = rows(S.sim_ann_ivf_partitioned)
    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(
            pool.map(lambda _: rows(S.sim_ann_ivf_partitioned), range(8))
        )
    assert all(r == serial for r in results)

    # cold-cache contention: drop every cache, race 8 threads on the
    # first build — one build, identical results
    S._IVF_LAYOUTS.clear()
    S._IVF_LAYOUT_DFS.clear()  # r12: the probe-side file-index handle
    S._IVF_CENTROIDS.clear()
    with ThreadPoolExecutor(max_workers=8) as pool:
        cold = list(
            pool.map(
                lambda _: rows(S.sim_ann_ivf_partitioned), range(8)
            )
        )
    assert all(r == cold[0] for r in cold)
    assert len(S._IVF_LAYOUTS) == 1  # built exactly once


def test_ann_batch_equals_serial(spark):
    """The batched multi-probe plan (VERDICT r12 #2) returns, for every
    probe, rows BIT-IDENTICAL to the probe-parametric serial path —
    same survivor cut (window rank ≡ global limit under the same (acos
    DESC, vec_id) order), same scorer (similarity._code_scores: per-probe
    dgemv, not one dgemm, so the floats match to the last ulp), same
    exact-cosine re-rank.  Probe 0 is the fixed PROBE, so the registry
    key's first group also equals sim_ann_ivf_partitioned's output
    exactly."""
    import numpy as np

    from mysqldump_to_parquet_spark.llm import similarity as S

    base = np.array(S.PROBE, dtype=np.float64)
    rng = np.random.default_rng(13)
    probes = np.vstack(
        [base, base + rng.normal(0.0, 0.5, size=(2, len(base)))]
    )

    brows = S.ann_probe_batch(spark, SF_RECALL, probes).collect()
    assert len(brows) == 10 * len(probes)
    for p in range(len(probes)):
        serial = S.ivf_probe_topk(spark, SF_RECALL, probes[p]).collect()
        got = [
            (r.vec_id, r.label, r.cosine) for r in brows if r.probe_id == p
        ]
        want = [(r.vec_id, r.label, r.cosine) for r in serial]
        assert got == want, p

    # the registry key's probe-0 group is the fixed-PROBE serial result
    reg = S.sim_ann_ivf_batch(spark, SF_RECALL).collect()
    reg0 = [(r.vec_id, r.label, r.cosine) for r in reg if r.probe_id == 0]
    fixed = [
        (r.vec_id, r.label, r.cosine)
        for r in S.sim_ann_ivf_partitioned(spark, SF_RECALL).collect()
    ]
    assert reg0 == fixed


def test_ann_caches_invalidate_on_corpus_rewrite(spark, tmp_path):
    """Rewriting a corpus at the same path must invalidate BOTH the
    materialized IVF layout and the IVF quantizer (VERDICT r8 #5 /
    ADVICE r8): the caches key on a file fingerprint; the stale layout
    is evicted but its tree stays until exit."""
    import os

    from mysqldump_to_parquet_spark.llm import similarity as S

    d = str(tmp_path / "corpus")
    src = spark.read.parquet(f"{SF}/embeddings.parquet")
    src.limit(100).write.parquet(f"{d}/embeddings.parquet")

    root1 = S._ivf_layout_dir(spark, d)
    assert root1 == S._ivf_layout_dir(spark, d)  # warm hit, no rebuild
    c1 = S.ivf_centroids(spark, d)
    assert S.ivf_centroids(spark, d) is c1  # warm hit: identical object

    # rewrite the corpus (different content => different fingerprint;
    # adaptive cell count clamps k <= n, so any size works)
    src.limit(80).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    root2 = S._ivf_layout_dir(spark, d)
    assert root2 != root1
    # the stale tree is NOT deleted eagerly (ADVICE r9: lazy DataFrames
    # from earlier probes may still reference its files) — it survives
    # until the atexit hook; eviction only stops SERVING it
    assert os.path.exists(root1), "eager delete would break live handles"
    assert S._ivf_layout_dir(spark, d) == root2  # and stays evicted
    # a warm hit returns the SAME matrix object (asserted above), so a
    # different object after the rewrite proves the quantizer re-fit
    c2 = S.ivf_centroids(spark, d)
    assert c2 is not c1, "stale quantizer served after corpus rewrite"


def test_probe_handle_caches_are_lru_bounded():
    """The probe-side file-index handle cache must not grow without
    bound in a long-lived probe service cycling many corpora (VERDICT
    r12 nit #3): cycling >MAX keys holds the cache at MAX, evicting
    least-recently-USED (a get refreshes recency), and a stale
    fingerprint/session miss still replaces in place."""
    from collections import OrderedDict

    from mysqldump_to_parquet_spark.llm import similarity as S

    cache = OrderedDict()
    n = S._PROBE_HANDLE_CACHE_MAX
    for i in range(n + 8):
        S._handle_cache_put(cache, f"corpus{i}", "fp", "app", f"df{i}")
        assert len(cache) <= n
    assert len(cache) == n
    # the 8 oldest were evicted, the rest survive
    assert S._handle_cache_get(cache, "corpus0", "fp", "app") is None
    assert S._handle_cache_get(cache, "corpus7", "fp", "app") is None
    assert S._handle_cache_get(cache, "corpus8", "fp", "app") == "df8"

    # a hit refreshes recency: corpus8 must now outlive corpus9
    S._handle_cache_put(cache, "fresh", "fp", "app", "dfx")
    assert S._handle_cache_get(cache, "corpus8", "fp", "app") == "df8"
    assert S._handle_cache_get(cache, "corpus9", "fp", "app") is None

    # fingerprint / session mismatches miss (the r12 invalidation rule)
    assert S._handle_cache_get(cache, "corpus8", "fp2", "app") is None
    assert S._handle_cache_get(cache, "corpus8", "fp", "app2") is None
    # and the production cache is a bounded OrderedDict of this shape
    assert isinstance(S._IVF_LAYOUT_DFS, OrderedDict)


def test_corpus_fingerprint_loud_on_missing_and_remote(tmp_path):
    """The fingerprint degrades LOUDLY, never silently: a missing local
    corpus raises (a typo'd path must not fingerprint to a constant and
    'hit' the cache forever), and a non-local URI — where no local stat
    exists — warns once that auto-invalidation is off."""
    import warnings

    import pytest as _pytest

    from mysqldump_to_parquet_spark.llm import similarity as S

    with _pytest.raises(FileNotFoundError):
        S._corpus_fingerprint(str(tmp_path / "nope"))

    uri = "s3://bucket/corpus"
    S._FINGERPRINT_WARNED.discard(f"{uri}/embeddings.parquet")
    with _pytest.warns(UserWarning, match="auto-invalidate"):
        fp1 = S._corpus_fingerprint(uri)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # second call must NOT re-warn
        fp2 = S._corpus_fingerprint(uri)
    assert fp1 == fp2  # constant path-only fingerprint, documented


def test_ivf_fit_survives_tiny_corpus(spark, tmp_path):
    """A tiny corpus must not blow up the quantizer
    fit (VERDICT r9 #3: MLlib KMeans throws an opaque
    ArrayIndexOutOfBounds when k > n rows): k clamps to the corpus size,
    the probe-cell derivation self-clamps to the actual centroid count,
    and the probe still ranks — on a ≤nprobe-cell corpus every cell is
    probed, so the top-k is EXACT."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    d = str(tmp_path / "tiny")
    src = spark.read.parquet(f"{SF}/embeddings.parquet")
    src.limit(10).write.parquet(f"{d}/embeddings.parquet")

    cents = S.ivf_centroids(spark, d)  # must not raise
    assert 1 <= len(cents) <= 10
    cells = S._ivf_probe_cells(cents)
    assert 0 < len(cells) <= len(cents)

    # sets, not lists: the raw-path and unit-path cosines can differ in
    # the 6th rounded decimal, so tie ORDER may differ — completeness
    # (no row lost to cell filtering; every cell is probed) is the claim
    got = {r.vec_id for r in S.sim_ann_ivf(spark, d).collect()}
    exact = {r.vec_id for r in sim_topk(spark, d).collect()}
    assert got == exact  # every cell probed ⇒ exact top-k


def test_corpus_fingerprint_recurses_into_partitions(spark, tmp_path):
    """A PARTITIONED corpus (nested key=value directories, e.g. written
    by the repo's own maintenance compaction) must fingerprint its part
    FILES, not just top-level names (VERDICT r9 #5): rewriting ONE
    partition in place — same directory names — must invalidate the
    layout and quantizer caches."""
    import os
    import time

    from mysqldump_to_parquet_spark.llm import similarity as S

    d = str(tmp_path / "parted")
    src = spark.read.parquet(f"{SF}/embeddings.parquet").limit(100)
    part = src.withColumn("pt", (F.col("vec_id") % 2).cast("int"))
    part.write.partitionBy("pt").parquet(f"{d}/embeddings.parquet")

    fp1 = S._corpus_fingerprint(d)
    # every entry is a (relative_path, mtime, size) of a real FILE —
    # nested paths present, no bare directory names
    rels = [e[0] for e in fp1]
    assert any(os.sep in r for r in rels), f"no nested entries: {rels}"

    root1 = S._ivf_layout_dir(spark, d)
    c1 = S.ivf_centroids(spark, d)

    # rewrite ONE partition in place: same directory tree, new files
    time.sleep(0.05)  # ensure mtime moves even on coarse filesystems
    part.where(F.col("pt") == 0).write.mode("overwrite").parquet(
        f"{d}/embeddings.parquet/pt=0"
    )
    fp2 = S._corpus_fingerprint(d)
    assert fp2 != fp1, "partition rewrite not visible in fingerprint"
    assert S._ivf_layout_dir(spark, d) != root1
    assert S.ivf_centroids(spark, d) is not c1


def test_ann_null_embeddings_skipped(spark, tmp_path):
    """A corpus containing NULL embedding rows must not crash the
    vectorized cell-assignment UDF (ADVICE r8: np.vstack raises on
    None) — null rows get null cells and are never candidates, matching
    the pre-r8 expression-filter semantics (the written layout's side
    is test_ivf_layout_build_tolerates_degraded_embeddings)."""
    import numpy as np

    from mysqldump_to_parquet_spark.llm import similarity as S

    d = str(tmp_path / "nullcorpus")
    base = spark.read.parquet(f"{SF}/embeddings.parquet").limit(20)
    nulls = spark.createDataFrame(
        [(999_999, None, 0)], base.schema  # (vec_id, embedding, label)
    )
    base.unionByName(nulls).write.parquet(f"{d}/embeddings.parquet")
    e = spark.read.parquet(f"{d}/embeddings.parquet")

    # IVF assignment: null cell for the null row
    cent = np.eye(4, 64)
    cells = {
        r.vec_id: r.cell
        for r in S.ivf_assign(e, "embedding", cent).collect()
    }
    assert cells[999_999] is None
    assert sum(v is not None for v in cells.values()) == 20


def test_components_merge_transitive_chain(spark, tmp_path):
    """A~B and B~C (shared shingles) but A and C share nothing: connected
    components must still place all three in one cluster — the property
    pairwise output alone cannot express."""
    from mysqldump_to_parquet_spark.llm.dedup import dedup_components

    half1 = "alpha beta gamma delta epsilon zeta eta theta".split()
    half2 = "iota kappa lmbda mu nu xi omicron pi".split()
    half3 = "rho sigma tau upsilon phi chi psi omega".split()
    docs = [
        (0, " ".join(half1), "en", "s", 10),            # A
        (1, " ".join(half1 + half2), "en", "s", 10),    # B ~ A and ~ C
        (2, " ".join(half2 + half3), "en", "s", 10),    # C (no overlap with A)
        (3, "totally different words here entirely now yes", "en", "s", 10),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r.component for r in dedup_components(spark, d).collect()}
    assert out[0] == out[1] == out[2] == 0
    assert out[3] == 3


def test_hash_split_stable_under_corpus_growth(spark, tmp_path):
    """Hash-based split membership is a pure function of doc_id: growing
    the corpus must never move an existing document between splits (the
    property random sampling lacks)."""
    from mysqldump_to_parquet_spark.llm.sampling import split_hash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    small_dir, big_dir = str(tmp_path / "small"), str(tmp_path / "big")
    docs.limit(100).write.parquet(f"{small_dir}/documents.parquet")
    docs.write.parquet(f"{big_dir}/documents.parquet")
    small = {r.doc_id: r.split for r in split_hash(spark, small_dir).collect()}
    big = {r.doc_id: r.split for r in split_hash(spark, big_dir).collect()}
    assert len(small) == 100 and len(big) == 500
    assert all(big[i] == s for i, s in small.items())


def test_fake_resize_batch_plumbing(spark):
    """Resize slot: the mapInPandas batch contract (bytes in, strided
    bytes + metadata out) with deterministic output; non-image payloads
    hitting the real resizer fail loudly, not silently."""
    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import (
        fake_resize,
        media_table,
        resize_image_batch,
    )

    media = media_table(spark, SF).limit(20)
    out = media.select("doc_id", "payload").mapInPandas(
        fake_resize, "doc_id long, payload binary, orig_bytes long, resized_bytes long"
    ).collect()
    assert len(out) == 20
    for r in out:
        assert r.resized_bytes == len(r.payload)
        assert r.resized_bytes == (r.orig_bytes + 3) // 4  # stride 4
    with pytest.raises(ValueError, match="unrecognized image payload"):
        import pandas as pd

        resize_image_batch(pd.Series([b"x"]), 8, 8).tolist()


def test_bmp_codec_round_trip_all_strides():
    """encode→decode is identity for every row-padding case (w%4 ∈
    0..3), and the decoder honors bottom-up vs top-down row order."""
    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_bmp,
        encode_bmp,
    )

    for w in (1, 2, 3, 4, 5, 7, 16):
        h = 3
        rgb = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        assert decode_bmp(encode_bmp(w, h, rgb)) == (w, h, rgb)
    # top-down variant: negative height, rows stored first-to-last
    w, h = 3, 2
    rgb = bytes(range(w * h * 3))
    bmp = bytearray(encode_bmp(w, h, rgb))
    stride = (w * 3 + 3) & ~3
    rows = [bmp[54 + i * stride : 54 + (i + 1) * stride] for i in range(h)]
    bmp[54:] = b"".join(reversed(rows))
    bmp[22:26] = (-h).to_bytes(4, "little", signed=True)
    assert decode_bmp(bytes(bmp)) == (w, h, rgb)


def test_png_codec_round_trip_all_filters():
    """encode_png → decode_png is identity; the encoder cycles the
    scanline filter with y, so any h ≥ 5 exercises ALL FIVE filter
    reconstructions (None/Sub/Up/Average/Paeth) inside one image.
    Also: per-filter isolation (h ≤ 5 slices), CRC validation, and the
    loud failure on unsupported color types."""
    import zlib

    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_image,
        decode_png,
        encode_png,
    )

    for w in (1, 2, 3, 5, 12):
        for h in (1, 2, 3, 4, 5, 7, 10):  # every y%5 prefix
            rgb = bytes(
                (x * 7 + y * 13 + c * 29) % 256
                for y in range(h)
                for x in range(w)
                for c in range(3)
            )
            assert decode_png(encode_png(w, h, rgb)) == (w, h, rgb)

    # dispatch by signature
    rgb = bytes(range(2 * 2 * 3))
    assert decode_image(encode_png(2, 2, rgb)) == (2, 2, rgb)

    # corrupt a payload byte: the chunk CRC must catch it
    png = bytearray(encode_png(3, 3, bytes(27)))
    png[-20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(png))

    # unsupported shapes fail loudly, never silently mis-decode
    ihdr = (
        (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
        + bytes([8, 6, 0, 0, 0])  # RGBA color type
    )
    bad = _PNG_SIG + _png_chunk(b"IHDR", ihdr) + _png_chunk(
        b"IDAT", zlib.compress(b"\x00\x00\x00\x00\x00")
    ) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="truecolor"):
        decode_png(bad)

    # every malformed-input class keeps the ValueError contract
    # (ADVICE r11: short IHDR used to escape as IndexError, garbled
    # IDAT as zlib.error, lying chunk lengths as a confusing CRC error)
    short_ihdr = _PNG_SIG + _png_chunk(b"IHDR", b"\x00" * 12)
    with pytest.raises(ValueError, match="IHDR body"):
        decode_png(short_ihdr)

    good_ihdr = (
        (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])
    )
    garbled = (
        _PNG_SIG
        + _png_chunk(b"IHDR", good_ihdr)
        + _png_chunk(b"IDAT", b"\xde\xad\xbe\xef")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflate"):
        decode_png(garbled)
    missing_idat = (
        _PNG_SIG + _png_chunk(b"IHDR", good_ihdr) + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflate"):
        decode_png(missing_idat)

    lying_len = _PNG_SIG + (10**6).to_bytes(4, "big") + b"IDATxxxx"
    with pytest.raises(ValueError, match="truncated"):
        decode_png(lying_len)


def test_ppm_decode_and_dispatch():
    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_image,
        decode_ppm,
    )

    rgb = bytes(range(18))
    ppm = b"P6\n# comment\n3 2\n255\n" + rgb
    assert decode_ppm(ppm) == (3, 2, rgb)
    assert decode_image(ppm) == (3, 2, rgb)
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"\x89PNG\r\n")
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b"P6\n3 2\n255\n" + rgb[:-1])


def test_resize_batch_nearest_neighbor():
    """2x2 checkerboard upscaled 2× must replicate each source pixel into
    a 2×2 block (nearest-neighbor), re-encoded as a valid BMP."""
    import pandas as pd

    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_image_batch,
    )

    px = {(0, 0): (255, 0, 0), (1, 0): (0, 255, 0),
          (0, 1): (0, 0, 255), (1, 1): (9, 9, 9)}
    rgb = bytes(
        v for y in range(2) for x in range(2) for v in px[(x, y)]
    )
    out = resize_image_batch(pd.Series([encode_bmp(2, 2, rgb)]), 4, 4)
    w, h, big = decode_bmp(out[0])
    assert (w, h) == (4, 4)
    for y in range(4):
        for x in range(4):
            i = (y * 4 + x) * 3
            assert tuple(big[i : i + 3]) == px[(x // 2, y // 2)]


def test_decontaminate_finds_planted_leak(spark, tmp_path):
    """A train-split doc containing a verbatim 8-gram from an eval-split
    doc must surface as a contamination pair; unrelated docs must not."""
    from mysqldump_to_parquet_spark.llm.sampling import TRAIN_MAX, VAL_MAX
    from mysqldump_to_parquet_spark.llm.textstats import decontaminate
    import hashlib

    def split_of(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return "train" if h < TRAIN_MAX else ("val" if h < VAL_MAX else "test")

    train_id = next(i for i in range(100) if split_of(i) == "train")
    eval_id = next(i for i in range(100) if split_of(i) == "test")
    other_id = next(
        i for i in range(100) if split_of(i) == "train" and i != train_id
    )
    leak = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 tokens
    docs = [
        (train_id, f"intro words {leak} trailing text here", "en", "s", 10),
        (eval_id, f"benchmark question: {leak} answer choices", "en", "s", 10),
        (other_id, "completely unrelated training content words", "en", "s", 10),
    ]
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")
    pairs = {(r.train_id, r.eval_id): r.shared_ngrams
             for r in decontaminate(spark, d).collect()}
    assert (train_id, eval_id) in pairs
    assert all(t != other_id for t, _ in pairs)


def test_sketch_distinct_merges_accurately(spark):
    """Daily HLL sketches unioned must estimate total distinct users within
    5% of exact — the mergeable-sketch contract (union of partials equals a
    sketch of the whole)."""
    from mysqldump_to_parquet_spark.operators.aggregates import agg_sketch_distinct
    from mysqldump_to_parquet_spark.catalog import load_table

    row = agg_sketch_distinct(spark, SF).collect()[0]
    exact = (
        load_table(spark, SF, "events").select("user_id").distinct().count()
    )
    assert row.n_daily_sketches > 1  # genuinely merged partials
    assert abs(row.distinct_users_estimate - exact) / exact < 0.05, (
        row.distinct_users_estimate,
        exact,
    )


def test_curate_corpus_end_to_end(spark, tmp_path):
    """The full curation chain on the fixture corpus: accounting must
    balance, every gate must fire at least once where the corpus contains
    its target (exact dup, near dup, low quality), the export must land
    one directory per split, and no contaminated train doc may survive."""
    from mysqldump_to_parquet_spark.llm.pipeline import curate_corpus
    from mysqldump_to_parquet_spark.llm.textstats import decontaminate

    out = str(tmp_path / "curated")
    # fixture quality spans 0.66–0.95 → 0.7 exercises the gate on ~5%
    acct = curate_corpus(spark, SF, out_dir=out, quality_min=0.7)
    assert acct["input_docs"] == 500
    assert acct["output_docs"] == acct["input_docs"] - sum(acct["dropped"].values())
    assert acct["dropped"]["low_quality"] > 0
    # the synthetic corpus plants exact+near duplicates
    assert acct["dropped"]["exact_dup"] + acct["dropped"]["near_dup"] > 0

    curated = spark.read.json(out)
    assert set(r.split for r in curated.select("split").distinct().collect()) == {
        "train", "val", "test"
    }
    assert curated.count() == acct["output_docs"]
    # no surviving train doc shares an 8-gram with the eval split
    survivors = {r.doc_id for r in curated.where("split = 'train'").collect()}
    leaked = {r.train_id for r in decontaminate(spark, SF).collect()}
    assert not (survivors & leaked)


def test_repetition_flags_planted_loop(spark, tmp_path):
    """A generation-loop doc (one token dominating) must flag repetitive;
    an all-distinct doc must not, and its modal counts must be exactly 1
    with lexicographic tie-break."""
    from mysqldump_to_parquet_spark.llm.quality import repetition

    loopy = "spam " * 40 + "end"                     # 'spam' is 40/41 tokens
    clean = " ".join(f"w{i:02d}" for i in range(40))  # all distinct
    docs = spark.createDataFrame(
        [(1, loopy.strip(), "en", "t", len(loopy)), (2, clean, "en", "t", len(clean))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in repetition(spark, d).collect()}
    assert out[1].top_unigram == "spam" and out[1].is_repetitive
    assert out[1].top_unigram_cnt == 40
    assert abs(out[1].top_bigram_frac - 39 / 40) < 1e-12  # 'spam spam' 39/40
    assert out[2].top_unigram == "w00" and out[2].top_unigram_cnt == 1
    assert not out[2].is_repetitive


def test_gopher_rules_each_rule_fires(spark, tmp_path):
    """Each rule rejects its own pathological doc; a normal doc keeps."""
    from mysqldump_to_parquet_spark.llm.quality import gopher_rules

    good = "the cat and the dog ran off to the park in a hurry today " * 2
    short = "the and of"                                   # < MIN_WORDS
    longw = " ".join(["pneumonoultramicroscopic"] * 30)     # mean len > 10
    nums = " ".join(["12345"] * 30)                        # alpha frac 0
    nostop = " ".join(f"zx{i}q" for i in range(30))        # no stopwords
    rows = [(1, good.strip()), (2, short), (3, longw), (4, nums), (5, nostop)]
    docs = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "docs")
    docs.write.parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in gopher_rules(spark, d).collect()}
    assert out[1].keep
    assert not out[2].ok_word_count and not out[2].keep
    assert not out[3].ok_mean_word_len and not out[3].keep
    assert not out[4].ok_alpha_words and not out[4].keep
    assert not out[5].ok_stopwords and not out[5].keep


def test_pcm_codec_round_trip_and_guards():
    """PCM1 container: encode→decode round-trips exactly; wrong magic and
    truncated payloads fail loudly (never silently return samples)."""
    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import decode_pcm, encode_pcm

    sr, xs = decode_pcm(encode_pcm(8000, [0, -1024, 1023, 5, -32768, 32767]))
    assert sr == 8000
    assert xs == [0, -1024, 1023, 5, -32768, 32767]
    with pytest.raises(ValueError, match="PCM1"):
        decode_pcm(b"WAVE" + b"\x00" * 20)
    with pytest.raises(ValueError, match="truncated"):
        decode_pcm(encode_pcm(8000, [1, 2, 3])[:-2])


def test_video_container_round_trip_and_guards():
    """VID1 container: frames round-trip through the real BMP codec;
    magic/truncation/trailing-bytes all fail loudly."""
    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import (
        decode_video,
        encode_bmp,
        encode_video,
    )

    f1 = encode_bmp(2, 2, bytes(range(12)))
    f2 = encode_bmp(1, 1, b"\x09\x08\x07")
    out = decode_video(encode_video([f1, f2]))
    assert [(w, h) for w, h, _ in out] == [(2, 2), (1, 1)]
    assert out[1][2] == b"\x09\x08\x07"
    with pytest.raises(ValueError, match="VID1"):
        decode_video(b"MOOV" + b"\x00" * 8)
    with pytest.raises(ValueError, match="truncated"):
        decode_video(encode_video([f1])[:-3])
    with pytest.raises(ValueError, match="trailing"):
        decode_video(encode_video([f1]) + b"\x00")


def test_curate_corpus_with_span_cutting(spark):
    """cut_dup_spans=True keeps doc counts identical to the plain run but
    excises duplicated-span tokens from surviving text; accounting gains
    dup_span_tokens_removed.  On this synthetic fixture the count is 0
    BY CONSTRUCTION — every duplicated span lives inside a near-dup doc
    pair the earlier gate already dropped — so the stage's firing is
    asserted on the raw corpus, where spans exist."""
    from pyspark.sql import functions as F

    from mysqldump_to_parquet_spark.llm.pipeline import curate_corpus
    from mysqldump_to_parquet_spark.llm.substring import cut_duplicated_spans

    SF = "/root/testdata/sf0.001"
    plain = curate_corpus(spark, SF, quality_min=0.7)
    cut = curate_corpus(spark, SF, quality_min=0.7, cut_dup_spans=True)
    assert cut["output_docs"] == plain["output_docs"]
    assert cut["dropped"] == plain["dropped"]
    assert cut["dup_span_tokens_removed"] >= 0
    assert "dup_span_tokens_removed" not in plain
    # mechanism check: the same pass on the RAW corpus removes tokens
    raw = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    removed = (
        cut_duplicated_spans(raw).agg(F.sum("n_tokens_removed")).first()[0]
    )
    assert removed > 0


def test_ivf_cells_bounds_and_monotonicity():
    """The corpus-adaptive IVF grid (r10): min(4√n, n/8) within
    [1, IVF_MAX_CELLS], never above n (MLlib k ≤ n), monotone in n,
    with the training floor binding below n≈1k and √n growth above."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    assert S._ivf_cells(0) == 1
    assert S._ivf_cells(1) == 1
    assert S._ivf_cells(10) == 1          # <16 rows → single cell
    assert S._ivf_cells(500) == 62        # n/8 binds (fixture point)
    assert S._ivf_cells(2_000) == 179     # 4√n binds
    assert S._ivf_cells(20_000) == 566
    assert S._ivf_cells(10**9) == S.IVF_MAX_CELLS
    prev = 0
    for n in (1, 8, 16, 64, 500, 1_024, 10_000, 10**6, 10**9):
        k = S._ivf_cells(n)
        assert 1 <= k <= min(n if n else 1, S.IVF_MAX_CELLS)
        assert k >= prev, f"not monotone at n={n}"
        prev = k
        # Training floor against the rows the fit ACTUALLY sees (ADVICE
        # r10): the sample target grows with the grid, so the invariant
        # is min(n, target) / k ≥ floor — corpus-based n/k alone would
        # pass even where a fixed 20k sample undertrains a 4096 grid.
        fit_rows = min(n, S._ivf_fit_sample_target(k))
        if n >= 16:
            assert fit_rows / k >= S.IVF_MIN_TRAIN_PER_CELL
    # The 4096-cell cap demands a 32 768-row fit sample, not 20 000.
    assert (
        S._ivf_fit_sample_target(S.IVF_MAX_CELLS)
        == S.IVF_MAX_CELLS * S.IVF_MIN_TRAIN_PER_CELL
    )
    # The ≥1M-row regime the scaled sample exists for, now MEASURED
    # (r12, tools/ann_fit_ablation.py → BASELINE.md): at n=1M the grid
    # is 4 000 cells; the scaled target keeps 8 training rows/cell
    # where the pre-fix fixed 20k sample trains on 5.
    k1m = S._ivf_cells(1_000_000)
    assert k1m == 4_000
    assert S._ivf_fit_sample_target(k1m) == 32_000
    assert 20_000 / k1m < S.IVF_MIN_TRAIN_PER_CELL


def test_ann_layout_concurrent_cold_build_is_single(spark, tmp_path):
    """ADVICE r9: two threads probing the same COLD corpus must produce
    ONE layout build (the loser used to orphan a duplicate tree and
    waste a full write job), and both must receive the same root;
    subsequent warm hits take the lock-free fast path and still agree."""
    import threading

    from mysqldump_to_parquet_spark.llm import similarity as S

    d = str(tmp_path / "corpus")
    spark.read.parquet(f"{SF}/embeddings.parquet").limit(80).write.parquet(
        f"{d}/embeddings.parquet"
    )

    builds = []
    real_build = S.write_ivf_partitioned

    def counting_build(*a, **kw):
        builds.append(1)
        return real_build(*a, **kw)

    S.write_ivf_partitioned = counting_build
    try:
        roots: list = []
        errs: list = []

        def probe():
            try:
                roots.append(S._ivf_layout_dir(spark, d))
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        ts = [threading.Thread(target=probe) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        assert len(set(roots)) == 1
        # one layout write — not two layouts' worth
        assert len(builds) == 1
        # warm path: no further builds
        assert S._ivf_layout_dir(spark, d) == roots[0]
        assert len(builds) == 1
    finally:
        S.write_ivf_partitioned = real_build


def test_jpeg_codec_round_trip_and_all_markers():
    """Baseline JPEG leg (VERDICT r12 #8): encode → decode is EXACT on
    the constant-MCU fixture (DC-only blocks × flat q=8 make the lossy
    chain lossless — the property the oracle hash rests on); DC
    prediction chains across MCUs and resets at restart markers; the
    decoder honors DRI/RSTn, crops non-multiple dims, decodes a hand-
    built grayscale scan, and keeps the ValueError contract for every
    malformed-input class (the PNG r12 error-contract standard)."""
    import struct

    import pytest

    from mysqldump_to_parquet_spark.llm.multimodal import (
        _JPEG_DC_LUMA,
        _JPEG_AC_EOB,
        _JPEG_Q,
        _BitWriter,
        _huff_codes,
        decode_jpeg,
        encode_jpeg,
    )

    # exact round trip over every fixture dimension + varied colors
    for d in (0, 5, 254):
        for mw, mh in [(1, 1), (2, 1), (3, 2), (1, 2)]:
            colors = [
                [
                    (
                        (d + 5 * mx + 7 * my) % 256,
                        (3 * d + 11 * mx + my) % 256,
                        (7 * d + mx + 13 * my) % 256,
                    )
                    for mx in range(mw)
                ]
                for my in range(mh)
            ]
            w, h = 16 * mw, 16 * mh
            gw, gh, (py, pcb, pcr) = decode_jpeg(
                encode_jpeg(w, h, colors)
            )
            assert (gw, gh) == (w, h)
            assert len(py) == w * h and len(pcb) == (w // 2) * (h // 2)
            for my in range(mh):
                for mx in range(mw):
                    yv, cbv, crv = colors[my][mx]
                    assert py[(my * 16 + 9) * w + mx * 16 + 11] == yv
                    assert pcb[(my * 8 + 3) * (w // 2) + mx * 8 + 2] == cbv
                    assert pcr[(my * 8 + 5) * (w // 2) + mx * 8 + 7] == crv

    # restart markers: same image, DRI=1 → RST between every MCU, DC
    # prediction resets — decode must be identical
    colors = [[(40, 80, 120), (200, 10, 90)], [(5, 250, 17), (99, 99, 99)]]
    plain = decode_jpeg(encode_jpeg(32, 32, colors))
    rst = decode_jpeg(encode_jpeg(32, 32, colors, restart_interval=1))
    assert plain == rst

    # crop: patch SOF0 dims to a non-multiple size; planes crop to
    # 12×10 luma / 6×5 chroma of the constant color
    one = bytearray(encode_jpeg(16, 16, [[(77, 88, 99)]]))
    i = one.index(b"\xff\xc0") + 5  # len(2)+prec(1) → height offset
    one[i : i + 4] = struct.pack(">HH", 10, 12)
    cw, chh, (py, pcb, pcr) = decode_jpeg(bytes(one))
    assert (cw, chh) == (12, 10)
    assert py == [77] * 120 and pcb == [88] * 30 and pcr == [99] * 30

    # hand-built single-component (grayscale) scan
    bits, vals = _JPEG_DC_LUMA
    abits, avals = _JPEG_AC_EOB
    out = bytearray(b"\xff\xd8")

    def seg(m, body):
        out.extend(struct.pack(">BBH", 0xFF, m, len(body) + 2) + body)

    seg(0xDB, bytes([0]) + bytes([_JPEG_Q] * 64))
    seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(vals))
    seg(0xC4, bytes([0x10]) + bytes(abits) + bytes(avals))
    seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    bw = _BitWriter()
    dc = _huff_codes(bits, vals)
    diff = 160 - 128
    s = diff.bit_length()
    bw.write(*dc[s])
    bw.write(diff, s)
    bw.write(*_huff_codes(abits, avals)[0x00])
    bw.flush()
    out += bw.out + b"\xff\xd9"
    gw, gh, (plane,) = decode_jpeg(bytes(out))
    assert (gw, gh) == (8, 8) and plane == [160] * 64

    # legal constructs a conformant EXTERNAL baseline file may carry
    # (ADVICE r13): 0xFF fill bytes before a marker id (T.81 B.1.1.2)
    # and the standalone length-less TEM marker — both must parse, not
    # misread a fill/TEM as a marker-with-length and skip a wrong span
    good = encode_jpeg(16, 16, [[(10, 20, 30)]])
    j = good.index(b"\xff\xdb")
    filled = good[:j] + b"\xff\xff\xff" + good[j:]  # 3 fills before DQT
    assert decode_jpeg(filled) == decode_jpeg(good)
    tem = good[:j] + b"\xff\x01" + good[j:]  # standalone TEM pre-SOS
    assert decode_jpeg(tem) == decode_jpeg(good)
    # restart marker OUTSIDE entropy data is malformed — loud, not a
    # bogus 2-byte length read
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg(good[:j] + b"\xff\xd3" + good[j:])
    # a run of fill bytes to EOF is a truncation, not an IndexError
    with pytest.raises(ValueError, match="truncated"):
        decode_jpeg(good[:j] + b"\xff\xff\xff\xff")

    # --- ValueError contract for every malformed-input class ---
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x00\x01\x02")
    with pytest.raises(ValueError, match="truncated|past end"):
        decode_jpeg(good[:25])
    prog = bytearray(good)
    prog[prog.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="not baseline"):
        decode_jpeg(bytes(prog))
    # lying segment length past end of data
    lying = bytearray(good)
    j = lying.index(b"\xff\xdb") + 2
    lying[j : j + 2] = struct.pack(">H", 60000)
    with pytest.raises(ValueError, match="segment length"):
        decode_jpeg(bytes(lying))
    # corrupt entropy data → invalid Huffman prefix or truncation, as
    # a ValueError either way (never IndexError/KeyError)
    ent = bytearray(good)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(ent[:-4]) + b"\xff\xff\xff\xff")
    # zero dimension
    zd = bytearray(good)
    k = zd.index(b"\xff\xc0") + 5
    zd[k : k + 4] = struct.pack(">HH", 0, 16)
    with pytest.raises(ValueError, match="zero image dimension"):
        decode_jpeg(bytes(zd))
    # scan referencing an undefined Huffman table id
    undef = bytearray(good)
    m = undef.index(b"\xff\xda")
    undef[m + 6] = 0x55  # Y component now wants DC table 5 / AC table 5
    with pytest.raises(ValueError, match="undefined"):
        decode_jpeg(bytes(undef))


def test_dhash64_known_image_and_binning():
    """Pure-fn pins for the perceptual fingerprint: (a) a hand-built
    9×8-cell image maps to exactly the designed bit pattern; (b) odd
    dimensions bin correctly (reduceat edges); (c) too-small images
    fail loudly."""
    import numpy as np
    import pytest

    from mysqldump_to_parquet_spark.llm import multimodal as M

    # direct grid: cell (r,c) brighter than (r,c+1) iff bit r*8+c set
    pattern = 0xA5C3_0F77_1234_8001
    grid = np.zeros((8, 9))
    for r in range(8):
        grid[r, 0] = 128
        for c in range(8):
            bit = (pattern >> (r * 8 + c)) & 1
            grid[r, c + 1] = grid[r, c] + (-12 if bit else 12)
    for block in (1, 3):  # exact-multiple and 27×24 odd-ish dims
        lum = np.repeat(np.repeat(grid, block, axis=0), block, axis=1)
        rgb = np.repeat(
            lum.astype(np.uint8)[:, :, None], 3, axis=2
        ).tobytes()
        got = M.dhash64(9 * block, 8 * block, rgb) & ((1 << 64) - 1)
        assert got == pattern, hex(got)

    with pytest.raises(ValueError, match="too small"):
        M.dhash64(8, 8, bytes(8 * 8 * 3))


def test_phash_format_invariance():
    """The property perceptual dedup actually rests on: the SAME pixels
    re-encoded in a different container (BMP vs PNG vs PPM — zero
    shared payload bytes) produce the IDENTICAL dHash, so cross-format
    re-uploads land in the same bucket and byte-level dedup's blind
    spot is covered."""
    import numpy as np

    from mysqldump_to_parquet_spark.llm import multimodal as M

    grid = np.array(M._phash_base_grid(3))
    lum = np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1).astype(np.uint8)
    rgb = np.repeat(lum[:, :, None], 3, axis=2).tobytes()
    w, h = 36, 32

    bmp = M.encode_bmp(w, h, rgb)
    png = M.encode_png(w, h, rgb)
    ppm = b"P6\n%d %d\n255\n" % (w, h) + rgb
    assert len({bmp, png, ppm}) == 3  # genuinely different payloads

    hashes = {
        M.dhash64(*M.decode_image(payload)) for payload in (bmp, png, ppm)
    }
    assert len(hashes) == 1, "fingerprint must be container-invariant"


def test_phash_fixture_separation_and_recall(spark):
    """q_dedup_phash invariants (VERDICT r13 #5): (a) group members are
    DIFFERENT files (the perturbation is real — byte dedup finds
    nothing) with IDENTICAL dHash (noise can't flip a ±12-step cell
    comparison); (b) cross-group patterns are ≥ 16 bits apart (measured
    21 at 25 groups) ≫ the Hamming-10 verify, so false positives are
    impossible; (c) true-pair recall on the perturbed fixture is 1.0 —
    the key's output IS the within-group pair set; (d) a pair perturbed
    to Hamming ≤ 3 still shares a band (the pigeonhole guarantee the
    banding's recall rests on)."""
    import numpy as np
    import pandas as pd

    from mysqldump_to_parquet_spark.llm import multimodal as M

    # (a)+(b) on the fingerprints themselves, via the synth+hash
    # stages, at the FULL driver-fixture size (500 docs — the earlier
    # 100-doc check missed a period-275 noise collision that made
    # same-group docs 275 apart byte-identical)
    n_docs = 500
    docs = pd.DataFrame({"doc_id": list(range(n_docs))})
    payloads = next(M._synth_phash_bmps(iter([docs])))
    hashes = next(M._phash_stage(iter([payloads])))
    by_group: dict = {}
    payload_by_group: dict = {}
    for d, ph, pay in zip(
        hashes["doc_id"], hashes["phash"], payloads["payload"]
    ):
        by_group.setdefault(d % M.PHASH_GROUPS, set()).add(int(ph))
        payload_by_group.setdefault(d % M.PHASH_GROUPS, set()).add(bytes(pay))
    assert all(len(v) == 1 for v in by_group.values())  # identical hash
    per_group = n_docs // M.PHASH_GROUPS
    assert all(  # every member a distinct FILE
        len(v) == per_group for v in payload_by_group.values()
    )
    pats = [next(iter(v)) & ((1 << 64) - 1) for v in by_group.values()]
    min_sep = min(
        bin(a ^ b).count("1")
        for i, a in enumerate(pats)
        for b in pats[i + 1 :]
    )
    assert min_sep >= 16, min_sep

    # (c) full-key recall at sf0.001: exactly the within-group pairs
    got = [
        (r.doc_a, r.doc_b, r.hamming)
        for r in M.multimodal_phash(spark, SF_RECALL).collect()
    ]
    n = 500
    want = [
        (a, b, 0)
        for a in range(n)
        for b in range(a + 1, n)
        if a % M.PHASH_GROUPS == b % M.PHASH_GROUPS
    ]
    # set comparison: the operator stopped globally sorting its output
    # in r15 (presentation-only exchange; the driver hash is
    # order-insensitive), so the pin is on the pair SET
    assert sorted(got) == want

    # (d) pigeonhole: corrupt the LAST cell of 3 rows (one comparison
    # each — a middle cell would flip two) hard enough to flip exactly
    # 3 bits — Hamming 3 ⇒ at least one of 4 bands is clean
    base = np.array(M._phash_base_grid(7), dtype=float)
    mod = base.copy()
    for r in (0, 3, 6):
        mod[r, 8] = mod[r, 7] + (-30 if mod[r, 8] > mod[r, 7] else 30)

    def to_hash(grid):
        lum = np.repeat(np.repeat(grid, 4, axis=0), 4, axis=1)
        rgb = np.repeat(
            np.clip(lum, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2
        ).tobytes()
        return M.dhash64(36, 32, rgb) & ((1 << 64) - 1)

    h0, h1 = to_hash(base), to_hash(mod)
    assert bin(h0 ^ h1).count("1") == 3
    assert any(
        (h0 >> (16 * i)) & 0xFFFF == (h1 >> (16 * i)) & 0xFFFF
        for i in range(4)
    )


def test_phash_band_multiprobe_completeness(spark):
    """Review r15: plain exact-band candidates guarantee only Hamming
    ≤ 3, yet the verify threshold is 10 — measured 7 % of true q48
    pairs straddled all 4 bands and were silently missed.  The
    radius-2 band multi-probe closes that: (a) the mask ball is the
    exact 1+16+C(16,2)=137 set; (b) pigeonhole — EVERY pattern of
    popcount ≤ 4·(r+1)−1 = 11 has a band at ≤ 2, checked exhaustively
    at the boundary split and on a random sweep; (c) end-to-end, an
    adversarial pair at Hamming 10 split 3/3/2/2 across bands (zero
    clean bands — invisible to the r=0 join) IS returned by the banded
    operator join, and a 3/3/3/3 pair at Hamming 12 > threshold is
    not."""
    import random

    from mysqldump_to_parquet_spark.llm import multimodal as M

    masks = M._hamming_ball_masks(16, M.PHASH_BAND_PROBE_R)
    assert len(masks) == len(set(masks)) == 137
    assert all(bin(m).count("1") <= 2 for m in masks)

    def band_min(x):
        return min(bin((x >> (16 * i)) & 0xFFFF).count("1") for i in range(4))

    rng = random.Random(42)
    for _ in range(2000):
        k = rng.randint(0, 11)
        pat = 0
        for p in rng.sample(range(64), k):
            pat |= 1 << p
        assert band_min(pat) <= M.PHASH_BAND_PROBE_R, hex(pat)

    # (c) hand-built fingerprints through the operator's own join:
    # 3/3/2/2 split ⇒ Hamming 10, min band distance 2 (caught only by
    # the probe); 3/3/3/3 ⇒ Hamming 12 > threshold (verify rejects)
    h0 = 0x0123456789ABCDEF - (1 << 63)  # arbitrary signed base
    split_3322 = (0b111 << 0) | (0b111 << 16) | (0b11 << 32) | (0b11 << 48)
    split_3333 = (0b111 << 0) | (0b111 << 16) | (0b111 << 32) | (0b111 << 48)
    fp = spark.createDataFrame(
        [
            (0, h0),
            (1, h0 ^ split_3322),
            (2, h0 ^ split_3333),
        ],
        "doc_id long, phash long",
    )
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in M._phash_banded_pairs(fp).collect()
    }
    assert (0, 1, 10) in got, got
    assert all(not (a == 0 and b == 2) for a, b, _ in got), got


def test_knn_join_ivf_recall_and_exact_rerank(spark):
    """The distributed kNN JOIN (r13): (a) recall@3 of the index-backed
    join vs the brute-force twin >= 0.8 (measured 0.911 at sf0.01 —
    probed-cells-only misses are the IVF recall trade, not a plan bug);
    (b) every returned cosine IS the exact cosine (the re-rank stage
    fetches true vectors — approximation only ever affects WHICH
    neighbors, never their scores); (c) per-query row cap and self-
    exclusion hold; (d) the layout side joins the routed queries via
    BroadcastHashJoin — the corpus-sized side must never shuffle for a
    bounded query batch."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    exact = S.sim_knn_join_exact(spark, SF_RECALL)
    ivf_df = S.sim_knn_join_ivf(spark, SF_RECALL)
    ex = exact.collect()
    iv = ivf_df.collect()

    exact_sets: dict = {}
    exact_cos: dict = {}
    for r in ex:
        exact_sets.setdefault(r.qid, set()).add(r.vec_id)
        exact_cos[(r.qid, r.vec_id)] = r.cosine
    got_sets: dict = {}
    for r in iv:
        got_sets.setdefault(r.qid, set()).add(r.vec_id)
        assert r.qid != r.vec_id  # self-excluded
    assert all(len(v) <= S.KNN_JOIN_K for v in got_sets.values())
    assert len(got_sets) == S.KNN_JOIN_QUERIES

    hits = sum(
        len(exact_sets[q] & got_sets.get(q, set())) for q in exact_sets
    )
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.8, f"recall@3 {hits}/{total}"

    # exact-score contract: any overlap row carries the identical
    # rounded cosine the brute-force twin computed
    for r in iv:
        if (r.qid, r.vec_id) in exact_cos:
            assert r.cosine == exact_cos[(r.qid, r.vec_id)]

    plan = ivf_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_against_index_gate(spark):
    """The admission gate (r13): (a) exact and IVF forms return one row
    per query; (b) the IVF gate NEVER false-positives — a returned
    cosine is the exact cosine of a real indexed vector, so is_dup=True
    through the index implies is_dup=True exactly (the only possible
    error is a missed neighbor flipping a dup toward False — admission
    errs open); (c) flag agreement >= 0.9 at fixture scale (measured
    30/30)."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    ex = {r.qid: r for r in
          S.sim_dedup_against_index_exact(spark, SF_RECALL).collect()}
    iv = S.sim_dedup_against_index_ivf(spark, SF_RECALL).collect()
    assert len(ex) == len(iv) == S.KNN_JOIN_QUERIES
    agree = 0
    for r in iv:
        if r.is_dup:
            # no false positives: the exact gate must agree, and the
            # exact nearest is at least as close as what we found
            assert ex[r.qid].is_dup, r
            assert ex[r.qid].cosine >= r.cosine
        if r.is_dup == ex[r.qid].is_dup:
            agree += 1
    assert agree / len(iv) >= 0.9, f"{agree}/{len(iv)}"


def test_knn_join_small_batch_prunes_layout_scan(spark):
    """VERDICT r13 #1: the kNN join's small-batch path must prune the
    layout scan to the batch's probed cells.  (a) a bounded batch's
    layout scan carries a literal-IN PartitionFilter on cell; (b) it
    reads strictly fewer files than the full layout (the 4× over-read
    the admission gate paid is gone); (c) the pruned path's result is
    IDENTICAL to the unpruned path's — the cell equi-join discards
    unprobed cells anyway; (d) an empty batch returns zero rows without
    a malformed ``IN ()``."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    # 1-query batch: the probed-cell union is nprobe ≈ 25 % of cells,
    # so pruning is visible in file counts (the 30-query fixture's
    # union covers effectively every cell — useless for discrimination)
    one = S._knn_join_queries(spark, SF_RECALL).where("qid = 0")
    pruned = S.ivf_knn_join(spark, SF_RECALL, one, k=3, prune_cells=True)
    full = S.ivf_knn_join(spark, SF_RECALL, one, k=3, prune_cells=False)

    # plan BEFORE executing: AQE's finalized toString elides
    # already-materialized query stages, hiding the layout scan
    import re

    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cell#\d+ IN", plan), plan

    assert pruned.collect() == full.collect()

    def _files_read(df) -> int:
        df.collect()
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numFiles"):
                total += m.apply("numFiles").value()
        return total

    # bytes/files-read check on the EXACT layout scan the join builds
    # (same helpers, same literal-IN): the 1-query batch reads only its
    # nprobe cells' files, strictly fewer than the full layout — the 4×
    # over-read the gate paid is gone
    routed = S._knn_route_queries(spark, SF_RECALL, one)
    cells = S._knn_batch_cells(routed)
    n_cells_total = len(S.ivf_centroids(spark, SF_RECALL))
    assert 0 < len(cells) < n_cells_total
    layout = S._ivf_layout_df(spark, SF_RECALL)
    n_all = _files_read(layout)
    n_pruned = _files_read(S._prune_layout_to_cells(layout, cells))
    assert 0 < n_pruned < n_all

    # the registry defaults (broadcast_queries=True ⇒ prune_cells=True)
    # keep the gate/join keys on the pruned path — parity re-pinned
    # against the explicit opt-out at the fixture batch
    fixture_q = S._knn_join_queries(spark, SF_RECALL)
    assert (
        S.ivf_knn_join(spark, SF_RECALL, fixture_q, k=3).collect()
        == S.ivf_knn_join(
            spark, SF_RECALL, fixture_q, k=3, prune_cells=False
        ).collect()
    )

    # empty batch: no malformed SQL, zero rows
    empty = S._knn_join_queries(spark, SF_RECALL).where("qid < 0")
    assert (
        S.ivf_knn_join(spark, SF_RECALL, empty, k=3, prune_cells=True)
        .count()
        == 0
    )


def test_knn_join_recall_at_discriminating_geometry(spark, tmp_path):
    """VERDICT r13 #2: the kNN join's recall evidence was fixture-scale
    (500 rows, corpus rows as queries).  This pin runs the join at the
    geometry where recall DISCRIMINATES — a jittered-distinct corpus
    (40 hash-noise copies of sf0.01's embeddings, the ann_fit_ablation
    construction at pytest scale) probed by RANDOM-DIRECTION query
    batches — and pins recall@3 vs a NumPy exact ground truth.  The
    1M-corpus measured row lives in BASELINE.md (tools/knn_join_1m.py);
    this re-pins the same construction per-commit."""
    import numpy as np

    from mysqldump_to_parquet_spark.llm import similarity as S

    copies, qid_base = 40, 10_000_000_000
    corpus = str(tmp_path / "knn20k")
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    base = e.agg(F.max("vec_id")).collect()[0][0] + 1
    c = spark.range(copies).withColumnRenamed("id", "copy")
    width = 0.1 * (12.0 ** 0.5)

    def jitter(x, i):
        h = F.pmod(
            F.hash(F.col("vec_id"), F.col("copy"), i, F.lit(42)),
            F.lit(100_000),
        )
        return (x + ((h / 100_000.0) - 0.5) * width).cast("float")

    e.crossJoin(c).select(
        (F.col("vec_id") + F.col("copy") * base).alias("vec_id"),
        F.transform("embedding", jitter).alias("embedding"),
        "label",
    ).repartition(8).write.parquet(f"{corpus}/embeddings.parquet")

    import pyarrow.parquet as pq

    t = pq.read_table(
        f"{corpus}/embeddings.parquet", columns=["vec_id", "embedding"]
    )
    ids = t["vec_id"].to_numpy()
    mat = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    rng = np.random.default_rng(7)
    probes = rng.normal(size=(10, unit.shape[1]))
    probes /= np.linalg.norm(probes, axis=1, keepdims=True)
    q = spark.createDataFrame(
        [
            (qid_base + i, [float(x) for x in p])
            for i, p in enumerate(probes)
        ],
        "qid long, qv array<double>",
    )
    got = S.ivf_knn_join(spark, corpus, q, k=3).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r.qid - qid_base, []).append(r.vec_id)

    hits = 0
    for i, p in enumerate(probes):
        cos = np.round(unit @ p, 6)
        exact = set(ids[np.lexsort((ids, -cos))[:3]].tolist())
        hits += len(exact & set(by_q.get(i, [])))
    recall = hits / (3 * len(probes))
    # floor informed by the 1M measured row (BASELINE.md r14): the
    # deployed 25 % nprobe holds ≥ 0.8 at every measured geometry
    assert recall >= 0.8, f"recall@3 {recall}"


def test_knn_join_broadcast_opt_out_reaches_rerank(spark):
    """ADVICE r13 (medium): broadcast_queries=False must drop the
    broadcast HINT everywhere — cell join AND both exact-re-rank joins.
    With both broadcast thresholds disabled, a hint is the only thing
    that could produce a BroadcastHashJoin, so the opted-out plan must
    contain ZERO of them; results stay identical to the hinted form."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    q = S._knn_join_queries(spark, SF_RECALL)
    hinted = S.ivf_knn_join(spark, SF_RECALL, q, k=3)
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": None,
        "spark.sql.adaptive.autoBroadcastJoinThreshold": None,
    }
    for key in confs:
        try:
            confs[key] = spark.conf.get(key)
        except Exception:
            confs[key] = None
        spark.conf.set(key, "-1")
    try:
        unhinted = S.ivf_knn_join(
            spark, SF_RECALL, q, k=3, broadcast_queries=False
        )
        rows = unhinted.collect()
        plan = unhinted._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, (
            "a broadcast hint survived the opt-out"
        )
    finally:
        for key, old in confs.items():
            if old is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, old)
    assert rows == hinted.collect()


def test_ivf_index_append_equals_rebuild(spark, tmp_path):
    """VERDICT r15 task 2: admitted batches must actually ENTER the
    index the gate checks against.  Pins, on a 90 %-corpus build +
    10 %-slice append: (a) the primary-store contract fail-louds when
    the admitted ids are not yet in the embeddings table; (b) the
    append adds NEW part files only — every pre-append file's (path,
    size, mtime) is byte-for-byte untouched; (c) appended vectors
    surface from the very next probe (self-top-1 at cosine 1.0);
    (d) layout contents AND kNN-join results over (build + append) are
    EXACTLY a from-scratch rebuild on the union corpus under the same
    quantizer (the rebuild reuses the re-stamped centroids —
    refitting them is what `refit_due` schedules, not what an append
    does); (e) the staleness signal reads ~1/9 appended mass, no skew,
    no refit — then flips refit_due when a skewed batch piles 30 %
    new mass into one cell."""
    import os

    import pytest

    from mysqldump_to_parquet_spark.llm import similarity as S

    corpus = str(tmp_path / "grow")
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    held = e.where(F.col("vec_id") % 10 == 0)
    spine = e.where(F.col("vec_id") % 10 != 0)
    spine.write.parquet(f"{corpus}/embeddings.parquet")
    n_held, n_spine = held.count(), spine.count()

    cells = S._ivf_layout_dir(spark, corpus)

    def listing(d):
        out = {}
        for r, _, fs in os.walk(d):
            for f in fs:
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(r, f)
                st = os.stat(p)
                out[os.path.relpath(p, d)] = (st.st_size, st.st_mtime_ns)
        return out

    before = listing(cells)

    # (a) index maintenance BEFORE primary-store ingest is the silent
    # re-rank-drop hazard — it must refuse
    batch = held.select("vec_id", "embedding")
    with pytest.raises(ValueError, match="primary"):
        S.ivf_index_append(spark, corpus, batch)

    held.write.mode("append").parquet(f"{corpus}/embeddings.parquet")
    res = S.ivf_index_append(spark, corpus, batch)
    assert res["appended_rows"] == n_held
    assert res["skipped_unroutable"] == 0
    assert res["index_rows"] == n_held + n_spine

    # (e) first half: uniform 1/9 growth — well under both triggers
    st = res["staleness"]
    assert abs(st["appended_fraction"] - n_held / n_spine) < 1e-6
    assert st["max_cell_growth"] < S.IVF_REFIT_CELL_SKEW
    assert st["refit_due"] is False

    # (b) append-only: old files untouched, new files present
    after = listing(cells)
    for p, sig in before.items():
        assert after.get(p) == sig, f"pre-append file rewritten: {p}"
    assert len(after) > len(before)

    # (c) appended vectors surface immediately
    probe_self = held.limit(5).select(
        F.col("vec_id").alias("qid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    got = S.ivf_knn_join(
        spark, corpus, probe_self, k=1, exclude_self=False
    ).collect()
    assert len(got) == 5
    assert all(r.vec_id == r.qid and r.cosine == 1.0 for r in got)

    # (d) append == rebuild-on-union under the same quantizer
    fixture_q = S._knn_join_queries(spark, corpus)
    got_append = S.ivf_knn_join(spark, corpus, fixture_q, k=3).collect()
    rows_append = {
        r.vec_id: (r.cell, list(r.code))
        for r in spark.read.parquet(cells).collect()
    }
    S._IVF_LAYOUTS.pop(corpus)
    S._IVF_LAYOUT_DFS.pop(corpus, None)
    cells2 = S._ivf_layout_dir(spark, corpus)
    assert cells2 != cells, "rebuild did not produce a fresh layout"
    rows_rebuild = {
        r.vec_id: (r.cell, list(r.code))
        for r in spark.read.parquet(cells2).collect()
    }
    assert rows_append == rows_rebuild
    got_rebuild = S.ivf_knn_join(spark, corpus, fixture_q, k=3).collect()
    assert got_append == got_rebuild

    # (e) second half: a drift-skewed batch trips the refit signal —
    # 150 copies of one held vector (30 % new mass, one cell)
    one = held.limit(1).collect()[0]
    # full primary schema (incl. a null label): appending a
    # label-less file would leave a mixed-schema directory whose
    # nondeterministic inference flakes every later corpus read —
    # exactly why _ingest_epoch aligns arrivals to the table schema
    skewed = spark.createDataFrame(
        [(9_000_000 + i, one.embedding, None) for i in range(150)],
        "vec_id long, embedding array<float>, label int",
    )
    skewed.write.mode("append").parquet(f"{corpus}/embeddings.parquet")
    res2 = S.ivf_index_append(
        spark, corpus, skewed.select("vec_id", "embedding")
    )
    assert res2["appended_rows"] == 150
    assert res2["staleness"]["refit_due"] is True
    assert res2["staleness"]["max_cell_growth"] > S.IVF_REFIT_CELL_SKEW

    # (f) ivf_index_refit is the action the trigger schedules: fresh
    # quantizer fit on the grown corpus, growth ratios reset to 1,
    # and probes keep working against the rebuilt layout
    st3 = S.ivf_index_refit(spark, corpus)
    assert st3["refit_due"] is False
    assert abs(st3["max_cell_growth"] - 1.0) < 1e-6
    got3 = S.ivf_knn_join(
        spark, corpus, probe_self, k=1, exclude_self=False
    ).collect()
    assert len(got3) == 5
    assert all(r.vec_id == r.qid and r.cosine == 1.0 for r in got3)


def test_ivf_staleness_small_cell_floor():
    """The 1M append measurement (r15) caught the skew signal
    false-positiving on a strictly UNIFORM append: a near-empty-at-fit
    cell receiving its fair ~20 rows scored 26.7× against a
    max(fit, 1) denominator.  The ¼-average-cell floor must (a) keep a
    uniform append quiet even with empty-at-fit cells, and (b) still
    trip on genuine drift — one cell absorbing the whole batch."""
    from mysqldump_to_parquet_spark.llm.similarity import (
        _staleness_from_counts,
    )

    # 100 cells of 1000 + one empty-at-fit cell; uniform 1 % append
    # spreads 1010 rows evenly, the empty cell gets its fair 10
    fit = {c: 1000 for c in range(100)}
    fit[100] = 0
    cur = {c: 1010 for c in range(100)}
    cur[100] = 10
    st = _staleness_from_counts(fit, 100_000, cur)
    assert st["max_cell_growth"] < 1.5, st
    assert st["refit_due"] is False

    # genuine drift: the whole 10 % batch lands in ONE average cell
    cur2 = dict(fit)
    cur2[7] = fit[7] + 10_000
    st2 = _staleness_from_counts(fit, 100_000, cur2)
    assert st2["max_cell_growth"] > 4.0, st2
    assert st2["refit_due"] is True

    # drift into the EMPTY cell also trips once it reaches ~avg mass
    cur3 = dict(fit)
    cur3[100] = 10_000
    st3 = _staleness_from_counts(fit, 100_000, cur3)
    assert st3["refit_due"] is True, st3


def test_ivf_index_append_skips_unroutable_and_requires_layout(spark, tmp_path):
    """Unroutable admitted rows — null embedding AND wrong-dim
    embedding (review r15: an unfiltered wrong-dim vector crashes the
    routing batch's np.vstack, so the append pre-filters by F.size
    exactly like the streaming gate) — are skipped AND counted, never
    written as a default-partition directory; appending without a
    built layout (or without cached centroids) refuses instead of
    guessing."""
    import pytest

    from mysqldump_to_parquet_spark.llm import similarity as S

    corpus = str(tmp_path / "nulls")
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    e.where(F.col("vec_id") >= 100).write.parquet(
        f"{corpus}/embeddings.parquet"
    )

    # ids 0..9: %3==0 routable (0,3,6,9), %3==1 null (1,4,7),
    # %3==2 wrong-dim (2,5,8)
    batch = e.where(F.col("vec_id") < 10).select(
        "vec_id",
        F.when(F.col("vec_id") % 3 == 0, F.col("embedding"))
        .when(
            F.col("vec_id") % 3 == 2,
            F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>"),
        )
        .alias("embedding"),
    )
    with pytest.raises(ValueError, match="build it first"):
        S.ivf_index_append(spark, corpus, batch, verify_primary=False)

    cells = S._ivf_layout_dir(spark, corpus)
    res = S.ivf_index_append(spark, corpus, batch, verify_primary=False)
    assert res["appended_rows"] == 4
    assert res["skipped_unroutable"] == 6
    import os

    assert not any(
        "HIVE_DEFAULT" in d for d in os.listdir(cells)
    ), "null-cell rows leaked into a default partition"


def test_ivf_incremental_staleness_matches_scan(spark, tmp_path):
    """r16: the staleness signal is maintained INCREMENTALLY (each
    append advances a cached per-cell count; the footer scan runs only
    to seed a cold cache) — so its numbers must stay EXACTLY the
    scan's through a sequence of idempotent appends and a replay.
    Also pins the recache trap the r16 soak caught: the post-guard
    appended counts are taken from a localCheckpoint BEFORE the write
    — a persist()-based count was silently zeroed when the write's
    refreshByPath made the CacheManager re-execute the anti-join
    against a listing that already contained the write's own output."""
    from mysqldump_to_parquet_spark.llm import similarity as S

    corpus = str(tmp_path / "inc")
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    e.write.parquet(f"{corpus}/embeddings.parquet")
    S._ivf_layout_dir(spark, corpus)

    for k in range(3):
        batch = e.limit(10).select(
            (F.col("vec_id") + 10_000_000 + k * 1000).alias("vec_id"),
            "embedding",
        )
        batch.write.mode("append").parquet(f"{corpus}/embeddings.parquet")
        res = S.ivf_index_append(
            spark, corpus, batch, verify_primary=False, idempotent=True
        )
        # exact appended accounting (the recache trap zeroed these)
        assert res["appended_rows"] == 10
        assert res["already_indexed"] == 0

    # replay of the last batch: nothing appended, everything reported
    batch = e.limit(10).select(
        (F.col("vec_id") + 10_002_000).alias("vec_id"), "embedding"
    )
    res = S.ivf_index_append(
        spark, corpus, batch, verify_primary=False, idempotent=True
    )
    assert res["appended_rows"] == 0
    assert res["already_indexed"] == 10

    incremental = S.ivf_index_staleness(spark, corpus)
    assert corpus in S._IVF_CELL_COUNTS  # served from the cache
    S._IVF_CELL_COUNTS.pop(corpus)  # force the ground-truth scan
    scanned = S.ivf_index_staleness(spark, corpus)
    assert incremental == scanned
    # the scan re-seeds the cache for the next caller
    assert corpus in S._IVF_CELL_COUNTS


def test_ivf_layout_build_tolerates_degraded_embeddings(spark, tmp_path):
    """Review r15: a degraded corpus row (null OR wrong-dim embedding)
    must be a non-event at every stage of the index lifecycle — the
    quantizer fit previously NPE'd MLlib's array_to_vector on nulls
    and the ivf_meta.json block int()-crashed on the null cell.  Build
    + staleness must work on such a corpus, with degraded rows
    excluded from index mass (the one _well_formed definition) and no
    default-partition directory in the layout."""
    import os

    from mysqldump_to_parquet_spark.llm import similarity as S

    corpus = str(tmp_path / "degraded")
    e = spark.read.parquet(f"{SF_RECALL}/embeddings.parquet")
    e.select(
        "vec_id",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None))  # null rows
        .when(  # wrong-dim rows
            F.col("vec_id") % 7 == 1,
            F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>"),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
        "label",
    ).write.parquet(f"{corpus}/embeddings.parquet")

    cells = S._ivf_layout_dir(spark, corpus)  # must not raise
    assert not any(
        "HIVE_DEFAULT" in d for d in os.listdir(cells)
    ), "degraded rows leaked into a default partition"
    st = S.ivf_index_staleness(spark, corpus)
    n_well = e.where(F.col("vec_id") % 7 >= 2).count()
    assert st["fit_total"] == n_well  # degraded rows are not index mass
    assert st["refit_due"] is False


def test_phash_corpus_decoded_once(spark, monkeypatch):
    """VERDICT r15 task 1: the phash fingerprint table feeds BOTH sides
    of the banded self-join, and exchange reuse only shares the shuffle
    BELOW the decode stage — so without the persist the image decode +
    dHash (the dominant cost at corpus scale) ran once per side.  Two
    pins: (a) an accumulator through the decode stage counts EXACTLY
    n_docs rows decoded for a full run of the operator; (b) the
    executed join plan reads the fingerprints from the cache (an
    InMemoryTableScan per side, no MapInPandas decode above them)."""
    from mysqldump_to_parquet_spark.llm import multimodal as M

    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    decoded = spark.sparkContext.accumulator(0)
    orig = M._phash_stage

    def counting(batches):
        def tap():
            for pdf in batches:
                decoded.add(len(pdf))
                yield pdf

        yield from orig(tap())

    monkeypatch.setattr(M, "_phash_stage", counting)
    df = M.multimodal_phash(spark, SF)
    try:
        df.count()  # executes the banded self-join end to end
        assert decoded.value == n_docs, (
            f"decoded {decoded.value} rows for {n_docs} docs — the "
            "fingerprint pass is recomputing"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 2, plan
    finally:
        # drop this test's cache entry (the monkeypatched stage makes
        # its plan unique, so it would linger for the session)
        spark.catalog.clearCache()


def test_phash_survives_measured_lossy_chains():
    """VERDICT r15 task 4: PHASH_HAMMING_MAX is MEASURED, not chosen.
    tools/phash_lossy.py's full-size run (25 groups × 20 docs, ladder
    q=8..128 + resize to 9×8) put true re-encoded duplicates at
    Hamming ≤ 10 through every SUPPORTED chain (both-sides JPEG q48:
    max 10; one-sided q72 drift: max 7; resize ≥ 18×16 at ±8 pixel
    noise: ≤ 1) with the closest cross-pattern pair at 14 — hence the
    threshold move 6 → 10 with zero false positives.  This re-pins the
    floors per-commit at 5 groups × 6 docs: q8 is the identity chain,
    q48/q72 stay within threshold on every leg measured, resize at the
    production ±5 noise is EXACT (provably — two cells differ by ≤ 10
    < the 12-luma step), and no cross pair anywhere near threshold."""
    import numpy as np

    # conftest puts the repo root on sys.path; 'tools' resolves as a
    # namespace package from there (the test_registry precedent)
    from tools.phash_lossy import (
        band_min_dist,
        bmp_hash,
        doc_cells,
        doc_pixel_bmp,
        hamming,
        jpeg_hash,
    )

    from mysqldump_to_parquet_spark.llm.multimodal import (
        PHASH_BAND_PROBE_R,
        PHASH_HAMMING_MAX,
        resize_image_batch,
    )

    groups, per = 5, 6
    docs = np.arange(groups * per)
    cells = [doc_cells(int(d), groups) for d in docs]

    control = np.array([jpeg_hash(c, 8) for c in cells], dtype=np.int64)
    q48 = np.array([jpeg_hash(c, 48) for c in cells], dtype=np.int64)
    q72 = np.array([jpeg_hash(c, 72) for c in cells], dtype=np.int64)

    # one-sided re-encode drift (the dedup-against-original case)
    assert hamming(q48, control).max() <= PHASH_HAMMING_MAX
    assert hamming(q72, control).max() <= PHASH_HAMMING_MAX

    ii, jj = np.triu_indices(len(docs), k=1)
    true_m = (docs[ii] % groups) == (docs[jj] % groups)
    # both-sides-re-encoded pairs: q48 fully inside the threshold
    # (measured max 10 = the threshold), q72 is the documented
    # degradation edge (measured 0.9964 at 500 docs; its max, 13,
    # would need a threshold of 12+ and leave only a 1-bit FP margin)
    for h, floor in ((control, 1.0), (q48, 1.0), (q72, 0.95)):
        t = hamming(h[ii], h[jj])[true_m]
        c = hamming(h[ii], h[jj])[~true_m]
        assert (t <= PHASH_HAMMING_MAX).mean() >= floor, (
            "true-pair recall fell below the measured floor"
        )
        assert c.min() > PHASH_HAMMING_MAX, (
            "a cross pair fell inside the threshold — FP"
        )
        # OPERATOR recall == hash recall (review r15): with the
        # radius-2 band probe, every within-threshold pair is a
        # candidate (measured r2 == hash-level on every chain; the
        # plain r=0 join left q48 at 0.93 and q72 at 0.76)
        bmd = band_min_dist(h[ii], h[jj])[true_m]
        assert (
            ((t <= PHASH_HAMMING_MAX) & (bmd <= PHASH_BAND_PROBE_R)).mean()
            == (t <= PHASH_HAMMING_MAX).mean()
        ), "a within-threshold pair straddled all bands past the probe"

    # resize legs: production ±5 noise is exact at any supported size;
    # ±8 noise drifts ≤ 1 at 18×16 (the measured knee is 9×8)
    import pandas as pd

    for amp, bound in ((5, 0), (8, 1)):
        bmps = [doc_pixel_bmp(int(d), groups, amp) for d in docs]
        ctrl = np.array([bmp_hash(b) for b in bmps], dtype=np.int64)
        rs = np.array(
            [
                bmp_hash(b)
                for b in resize_image_batch(pd.Series(bmps), 18, 16)
            ],
            dtype=np.int64,
        )
        assert hamming(rs, ctrl).max() <= bound
