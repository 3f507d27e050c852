"""Similarity-search queries over `embeddings` (training-data extensions).

``ann_topk``-style search surfaces as TWO registered queries:

- ``ann_bruteforce_topk`` — the VALUE-CHECKED pair: method='brute' is
  the exact cosine baseline, method='lsh' (r6) is the full LSH pipeline
  (portable-LCG hyperplanes → sign buckets → hamming<=2 multiprobe →
  exact-cosine rerank) answered from the PERSISTED bucket index; every
  plane constant inlines into the DuckDB oracle, so signature, probe
  set and ranking are value-checked end-to-end.
- ``ann_approx_topk`` — the branches that are rows-only BY NATURE:
  IVF-Flat (iterative k-means with engine-specific init hashing) and
  SemDeDup (k-means + connected components), with recall/invariants
  pinned in tests/test_dedup_ann.py instead.

Both approximate paths answer from PERSISTED indexes under a keyed
cache ('train/build once, probe many'): first run builds, later runs
are pure partition-pruned probing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import ann
from .registry import register

N_QUERIES = 5
K = 10

#: the catalog embeddings dimension — already pinned structurally by
#: the 64-dim LSH/RP plane literals spliced into the oracles below;
#: passed to the persisted-index probes so they skip their per-call
#: centroid-sample dim job (a regenerated catalog with a different dim
#: fails those probes loudly, exactly like the plane literals would)
EMB_DIM = 64

#: the registered LSH preset (4 planes over the 64-dim embeddings,
#: hamming<=2 multiprobe) — shared by the Spark branch and its oracle
LSH_PLANES, LSH_DIM, LSH_SEED, LSH_MULTIPROBE = 4, 64, 42, 2

#: the registered random-projection preset (64-d → 16-d, its own seed
#: so the matrix doesn't alias the LSH planes; 10× candidate
#: oversample before the exact rerank) — shared by the Spark branch
#: and its oracle
RP_DIM, RP_OUT, RP_SEED, RP_OVERSAMPLE = 64, 16, 7, 10

#: scalar-int8 candidate oversample — SQ8's ~0.4% per-component error
#: needs far less slack than the lossy 4x projection
SQ_OVERSAMPLE = 3


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings corpus, spread when the scan arrives under-split (one
    parquet file → one split): cosine math is per-row CPU that would
    otherwise serialize on a single task."""
    from ..session import ensure_min_partitions

    return ensure_min_partitions(table(spark, sf_dir, "embeddings"))


def _queries_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic query set: the N lowest-id corpus vectors."""
    e = table(spark, sf_dir, "embeddings")
    return (e.filter(F.col("vec_id") < N_QUERIES)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")))


# ---------------------------------------------------------------------------
# Keyed index cache: build once per (dataset, params), probe many
# ---------------------------------------------------------------------------

def _ann_cache_path(sf_dir: str, kind: str, params: str) -> tuple[str, str]:
    """Deterministic per-(dataset, kind, params) location for a
    persisted ANN index → ``(cache_root, index_path)``.  Layout:
    ``<tmp>/acep_ann_cache/<dataset-slug>/<kind>-<key>`` — the slug is
    stable per dataset PATH while the key folds in the embeddings
    file's size+mtime and the build params, so a testdata regen or a
    param change can never serve a stale index AND superseded keys are
    recognizable siblings for ``_gc_stale_indexes``.  The
    'build once, probe many' product shape: the first run of a query
    builds the index (atomic ``replace_dir`` swap — a concurrent
    reader never sees a half-built index); every later run is pure
    partition-pruned probing.  On a cluster this would be a curated
    warehouse path, not a temp dir."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(os.path.realpath(sf_dir), "embeddings.parquet")
    st = os.stat(src)
    slug = hashlib.md5(src.encode()).hexdigest()[:12]
    key = hashlib.md5(
        f"{st.st_size}|{st.st_mtime_ns}|{params}".encode()).hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), "acep_ann_cache", slug)
    return root, os.path.join(root, f"{kind}-{key}")


def _index_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the session's Hadoop FileSystem — the
    builders (``build_ivf_index`` / ``build_lsh_index``) write through
    the default FS, so a driver-local ``os.path.exists`` would never
    see an index built onto a non-local default FS (rebuild every run,
    racing swaps under live probes — the r5 ADVICE hole)."""
    from ..session import hadoop_exists

    return hadoop_exists(spark, path)


def _gc_stale_indexes(spark: SparkSession, root: str, kind: str,
                      keep_path: str) -> None:
    """Delete SUPERSEDED cache entries for (dataset, kind): sibling
    ``<kind>-<16-hex>`` directories under ``root`` other than the
    current key — each keyed by a size+mtime+params hash, so a sibling
    can only be a stale testdata generation or an abandoned param set,
    never a live index.  Runs on cache MISS only (staleness appears
    exactly when the key rolls).  Completed-index names ONLY: a
    concurrent builder's ``.__build_tmp.<pid>`` tree and replace_dir's
    transient ``.__old`` backup are never touched."""
    import os
    import re

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    rootp = hpath(root)
    fs = rootp.getFileSystem(conf)
    if not fs.exists(rootp):
        return
    keep = os.path.basename(keep_path)
    pat = re.compile(rf"^{re.escape(kind)}-[0-9a-f]{{16}}$")
    for status in fs.listStatus(rootp):
        name = status.getPath().getName()
        if pat.match(name) and name != keep:
            fs.delete(status.getPath(), True)


def _cached_index(spark: SparkSession, sf_dir: str, kind: str,
                  params: str, build) -> str:
    """The cache protocol all registered index probes share: derive the
    keyed path, probe THROUGH the Hadoop FS, on miss GC superseded
    siblings then build (atomic swap inside the builder)."""
    root, path = _ann_cache_path(sf_dir, kind, params)
    if not _index_exists(spark, path):
        _gc_stale_indexes(spark, root, kind, path)
        build(path)
    return path


def _lsh_bucket_sql(col: str) -> str:
    """DuckDB twin of ``ann.lsh_bucket`` under the registered preset:
    the same portable-LCG hyperplanes inlined as literals, the same
    sign-bit fold — so the oracle reproduces every bucket the persisted
    index stored."""
    bits = []
    for i, p in enumerate(ann._planes(LSH_DIM, LSH_PLANES,
                                      seed=LSH_SEED)):
        lits = ", ".join(repr(x) for x in p)
        bits.append(f"(CASE WHEN list_dot_product({col}, [{lits}]) > 0 "
                    f"THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _rp_proj_sql(col: str) -> str:
    """DuckDB twin of ``ann.random_projection`` under the registered
    preset: the same portable-LCG matrix rows inlined as literals, each
    projected component rounded to the same 1e-6 grid."""
    comps = []
    for p in ann._planes(RP_DIM, RP_OUT, seed=RP_SEED):
        lits = ", ".join(repr(x) for x in p)
        comps.append(f"round(list_dot_product({col}, [{lits}]), 6)")
    return "[" + ", ".join(comps) + "]"


@register(
    "ann_bruteforce_topk",
    doc="Cosine top-10 per query (queries = 5 lowest-id vectors, "
        "self-match included), method-tagged and FULLY value-checked. "
        "method='brute': the exact baseline — native zip_with/aggregate "
        "dot product, broadcast query side, window top-k. method='lsh' "
        "(r6, moved here from ann_approx_topk so the whole pipeline "
        "sits under the oracle gate): random-hyperplane LSH answered "
        "from the PERSISTED bucket index (operators/ann.py "
        "build_lsh_index / lsh_index_topk — corpus plane signs written "
        "partitionBy(bucket) ONCE per (dataset, planes, seed) into the "
        "keyed cache, then every run is hive-partition-pruned probing; "
        "the same build-once discipline as the IVF index). 4 portable-"
        "LCG planes, sign-bit buckets, hamming<=2 multiprobe, exact-"
        "cosine rerank; the oracle inlines the plane constants, so "
        "DuckDB reproduces buckets, probe set (bit_count(xor)<=2), "
        "rerank and ranking exactly — the deterministic-arithmetic "
        "sketch paths are all value-checked, leaving only iterative "
        "k-means and engine-hash fast paths rows-only. method='rp' "
        "(r8, operators/ann.py random_projection/rp_topk): Johnson-"
        "Lindenstrauss two-stage search — candidates ranked by cosine "
        "in the 16-d PROJECTED space (64-d originals x a portable-LCG "
        "matrix, components on the 1e-6 grid; the 4x-fewer-floats "
        "first-stage scan cut), 10x oversample, then exact-cosine "
        "rerank touching original floats per CANDIDATE only — the "
        "faiss refine shape over a projection instead of PQ codes; "
        "the oracle inlines the matrix and replays every projected "
        "component, the candidate cut, the rerank and the ranking. "
        "method='sq' (r8, operators/ann.py sq8_encode/sq8_topk): "
        "scalar int8 quantization — per-vector max-abs/127 scale, "
        "round-half-up codes in [-127,127] (the 4x storage cut every "
        "vector store ships, no codebook training); candidates ranked "
        "over the DEQUANTIZED codes at 3x oversample (SQ8's ~0.4% "
        "per-component error needs far less slack than RP's lossy "
        "projection), exact-cosine rerank; every scale, code, "
        "dequantized component and rank replayed in DuckDB.",
    tags=("ann",),
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < {N_QUERIES}
), c AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scored AS (
  SELECT q.query_id, c.vec_id,
         round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim
  FROM c CROSS JOIN q
), ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
), cb AS (
  SELECT vec_id, v, {{LSH_BUCKET_C}} AS b FROM c
), qb AS (
  SELECT query_id, qv, {{LSH_BUCKET_Q}} AS b FROM q
), lsh_scored AS (
  SELECT qb.query_id, cb.vec_id,
         round(list_cosine_similarity(cb.v, qb.qv), 6) AS cosine_sim
  FROM cb JOIN qb ON bit_count(xor(cb.b, qb.b)) <= {LSH_MULTIPROBE}
), lsh_ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM lsh_scored
), rp_c AS (
  SELECT vec_id, {{RP_PROJ_C}} AS pv FROM c
), rp_q AS (
  SELECT query_id, {{RP_PROJ_Q}} AS pv FROM q
), rp_cand AS (
  SELECT query_id, vec_id FROM (
    SELECT rp_q.query_id, rp_c.vec_id,
           row_number() OVER (
               PARTITION BY rp_q.query_id
               ORDER BY round(list_cosine_similarity(rp_c.pv, rp_q.pv),
                              6) DESC,
                        rp_c.vec_id ASC) AS prank
    FROM rp_c CROSS JOIN rp_q)
  WHERE prank <= {K * RP_OVERSAMPLE}
), rp_ranked AS (
  SELECT query_id, vec_id,
         round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                      vec_id ASC) AS rank
  FROM rp_cand JOIN c USING (vec_id) JOIN q USING (query_id)
), sq_d AS (
  SELECT vec_id,
         CASE WHEN sc > 0
              THEN list_transform(v, x -> round(x / sc) * sc)
              ELSE list_transform(v, x -> CAST(0 AS DOUBLE)) END AS dv
  FROM (SELECT vec_id, v,
               CASE WHEN mx > 0 THEN mx / CAST(127 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS sc
        FROM (SELECT vec_id, v,
                     list_max(list_transform(v, x -> abs(x))) AS mx
              FROM c))
), sq_cand AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, d.vec_id,
           row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY round(list_cosine_similarity(d.dv, q.qv),
                              6) DESC,
                        d.vec_id ASC) AS prank
    FROM sq_d d CROSS JOIN q)
  WHERE prank <= {K * SQ_OVERSAMPLE}
), sq_ranked AS (
  SELECT query_id, vec_id,
         round(list_cosine_similarity(c.v, q.qv), 6) AS cosine_sim,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY round(list_cosine_similarity(c.v, q.qv), 6) DESC,
                      vec_id ASC) AS rank
  FROM sq_cand JOIN c USING (vec_id) JOIN q USING (query_id)
)
SELECT 'brute' AS method, query_id, vec_id, cosine_sim, rank
FROM ranked WHERE rank <= {K}
UNION ALL
SELECT 'lsh' AS method, query_id, vec_id, cosine_sim, rank
FROM lsh_ranked WHERE rank <= {K}
UNION ALL
SELECT 'rp' AS method, query_id, vec_id, cosine_sim, rank
FROM rp_ranked WHERE rank <= {K}
UNION ALL
SELECT 'sq' AS method, query_id, vec_id, cosine_sim, rank
FROM sq_ranked WHERE rank <= {K}
""",
    branches={m: (lambda s, d, _m=m: _ann_topk_branches(s, d, _m))
              for m in ("brute", "lsh", "rp", "sq")},
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_topk_branches(spark, sf_dir, None)


def _ann_topk_branches(spark: SparkSession, sf_dir: str,
                       method: str | None) -> DataFrame:
    parts = []
    q = _queries_df(spark, sf_dir)
    if method in (None, "brute"):
        parts.append(
            ann.brute_force_topk(_corpus(spark, sf_dir), q, k=K)
            .select(F.lit("brute").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if method in (None, "lsh"):
        path = _cached_index(
            spark, sf_dir, "lsh",
            f"{LSH_PLANES}|{LSH_DIM}|{LSH_SEED}",
            lambda p: ann.build_lsh_index(
                _corpus(spark, sf_dir), p, n_planes=LSH_PLANES,
                dim=LSH_DIM, seed=LSH_SEED))
        parts.append(
            ann.lsh_index_topk(spark, path, q, k=K,
                               multiprobe=LSH_MULTIPROBE)
            .select(F.lit("lsh").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if method in (None, "rp"):
        # method='rp' (r8): JL two-stage search — candidates from the
        # 16-d projected space (4x fewer floats scanned), 10x
        # oversample, exact-cosine rerank per candidate only. Both
        # sides project through the SAME matrix — a projection is only
        # meaningful within one matrix.
        parts.append(
            ann.rp_topk(_corpus(spark, sf_dir), q, k=K, dim=RP_DIM,
                        out_dim=RP_OUT, seed=RP_SEED,
                        oversample=RP_OVERSAMPLE)
            .select(F.lit("rp").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if method in (None, "sq"):
        # method='sq' (r8): int8 scalar quantization — candidates over
        # the dequantized codes (byte-weight scan), exact rerank
        parts.append(
            ann.sq8_topk(_corpus(spark, sf_dir), q, k=K,
                         oversample=SQ_OVERSAMPLE)
            .select(F.lit("sq").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if not parts:
        raise ValueError(f"unknown ann topk method {method!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# splice the plane literals into the oracle (register() already ran;
# the braces placeholder keeps the f-string above readable)
from .registry import REGISTRY as _REG  # noqa: E402

_REG["ann_bruteforce_topk"].oracle = (
    _REG["ann_bruteforce_topk"].oracle
    .replace("{LSH_BUCKET_C}", _lsh_bucket_sql("v"))
    .replace("{LSH_BUCKET_Q}", _lsh_bucket_sql("qv"))
    .replace("{RP_PROJ_C}", _rp_proj_sql("v"))
    .replace("{RP_PROJ_Q}", _rp_proj_sql("qv")))


@register(
    "ann_approx_topk",
    doc="The rows-only-BY-NATURE vector paths in one kind-tagged result "
        "(fold to fit the driver's query window; the deterministic-"
        "arithmetic LSH branch moved to ann_bruteforce_topk in r6, "
        "where it is value-checked): method='ivf' rows are IVF-Flat "
        "top-10 answered from the PERSISTED partition-pruned index "
        "(operators/ann.py build_ivf_index / ivf_index_topk — built "
        "once per dataset into the keyed cache, then every run is "
        "probe-only: hive partition pruning reads 4 of 16 inverted "
        "lists, k-means never retrains per query; cache probes go "
        "through the Hadoop FS and superseded keys are GC'd). "
        "method='semdedup' rows are the SemDeDup election over the "
        "planted near-dup embedding corpus (cluster -> within-cluster "
        "pairs -> connected components -> keep-farthest): query_id = "
        "member vec_id, vec_id = its duplicate-group id (min member), "
        "cosine_sim = cosine to the assigned centroid (NULL for "
        "quarantined vectors), rank = 1 for the elected canonical "
        "member else 0. Iterative k-means with engine-specific init "
        "hashing -> rows-only driver check; per-method recall and "
        "election invariants pinned in tests/test_dedup_ann.py. "
        "method='pq' rows (r7, operators/pq.py) are product-"
        "quantization ADC top-10 answered from the PERSISTED PQ index "
        "(16 subspaces × 16 codes = 64-bit codes, a 16-32× smaller "
        "scan than the float vectors) with the faiss-style refine "
        "stage: ADC prunes to 5·k candidates, the exact cosine runs "
        "on those rows only via an equi-join back to the embeddings "
        "— the 100 TB shape where floats are touched per candidate, "
        "never per corpus row. Iterative subspace k-means -> "
        "rows-only; ADC-vs-reconstruction identity, nearest-code "
        "argmin and recall floors pinned in tests/test_pq.py.",
    tags=("ann",),
    oracle=None,
    branches={m: (lambda s, d, _m=m: _ann_approx_branches(s, d, _m))
              for m in ("ivf", "semdedup", "pq")},
)
def ann_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ann_approx_branches(spark, sf_dir, None)


def _ivf_path(spark: SparkSession, sf_dir: str) -> str:
    return _cached_index(
        spark, sf_dir, "ivf", "16|5|42",
        lambda p: ann.build_ivf_index(_corpus(spark, sf_dir), p,
                                      n_centroids=16, kmeans_iter=5,
                                      seed=42))


def _ann_approx_branches(spark: SparkSession, sf_dir: str,
                         method: str | None) -> DataFrame:
    from .dedup import _embeddings_with_dups

    parts = []
    if method in (None, "ivf"):
        parts.append(
            ann.ivf_index_topk(spark, _ivf_path(spark, sf_dir),
                               _queries_df(spark, sf_dir), k=K, n_probe=4,
                               expected_dim=EMB_DIM)
            .select(F.lit("ivf").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if method in (None, "pq"):
        from ..operators import pq as pq_ops

        pq_path = _cached_index(
            # the last field keys the layout: codebook + codes + meta
            spark, sf_dir, "pq", "64|16|16|3|42|meta",
            lambda p: pq_ops.build_pq_index(
                _corpus(spark, sf_dir), p, dim=64, m=16, n_codes=16,
                kmeans_iter=3, seed=42))
        parts.append(
            pq_ops.pq_index_topk(
                spark, pq_path, _queries_df(spark, sf_dir), k=K,
                rerank_df=_corpus(spark, sf_dir).select("vec_id",
                                                        "embedding"),
                oversample=5)
            .select(F.lit("pq").alias("method"), "query_id", "vec_id",
                    "cosine_sim", "rank"))
    if method in (None, "semdedup"):
        # SemDeDup rides the SAME persisted centroids the IVF index
        # trained (operators/ann.py semdedup docstring): no second
        # k-means run — on an IVF-indexed corpus semantic dedup is one
        # assignment + one within-cluster pass
        from ..catalog import read_parquet

        path = _ivf_path(spark, sf_dir)
        parts.append(
            ann.semdedup(_embeddings_with_dups(spark, sf_dir),
                         threshold=0.99, vec_col="v", keep="far",
                         centroids=read_parquet(spark,
                                                f"{path}/centroids"),
                         centroids_dim=EMB_DIM)
            .select(F.lit("semdedup").alias("method"),
                    F.col("vec_id").alias("query_id"),
                    F.col("group_id").alias("vec_id"),
                    F.col("centroid_sim").alias("cosine_sim"),
                    F.when(F.col("is_canonical"), 1).otherwise(0)
                    .alias("rank")))
    if not parts:
        raise ValueError(f"unknown ann approx method {method!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
