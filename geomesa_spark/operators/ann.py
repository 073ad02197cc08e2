"""Embedding similarity operators: brute-force cosine top-k, LSH-bucketed ANN,
cosine near-duplicate pairs.

Distances are order-deterministic sequential folds (portable.dot_product) so
the DuckDB oracle reproduces every double bit-for-bit; checked outputs carry
neighbor identity + rank (ties broken by id), never raw floats.

Scale design (10^9+ vectors):
* brute-force top-k broadcasts the (small) query set and scans the corpus
  once — the correct baseline plan; per-partition partial top-k happens
  map-side via the rank window's sort spill.
* lsh_topk / near_dup_pairs use BANDED sign-LSH with OR-amplification
  (the minhash-banding design of operators/dedup.py applied to
  hyperplane signs): the signature is `bands` groups of `bits` sign bits
  each; two vectors are candidates when they share ANY band key.  The
  per-band keyspace is 2^bits, and `bits` scales with corpus size
  (`band_bits`: expected band-bucket occupancy ~ target), so the
  within-bucket work stays O(near-dups) instead of collapsing into a
  fixed 256-bucket all-pairs join at large n.  The (band, key) pair is
  the shuffle/partition key — the cell-id role in the spatial engine
  (SURVEY.md §1.3); the same-key join is a hash join, never a cross join.
* candidates are refined with exact cosine — the embedding analog of
  cell-join + exact-geometry refine (GeoMesaJoinRelation.scala:41-91).
  Exactly-scaled duplicates share every sign, hence every band: recall 1
  for true duplicates at any `bits`.

For very wide vectors the expression fold can be swapped for a pandas-UDF
matmul (numpy BLAS) — provided as `cosine_topk_arrow` — at the cost of
bit-exact oracle parity (BLAS reorders sums), so the checked queries use the
fold path.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from geomesa_spark.functions import portable as pt
from geomesa_spark.sources.arrow_io import local_table

DIM = 64
DEFAULT_BANDS = 4
DEFAULT_BITS = 8  # per-band keyspace 2^bits = 256; fixed value used by the
                  # oracle-checked queries (static SQL); operators accept
                  # bits=None to auto-scale from the corpus size


def band_bits(n_rows: int, target_bucket: int = 1024) -> int:
    """Bits per band so the EXPECTED random band-bucket occupancy is about
    `target_bucket` rows: 2^bits >= n/target.  Clamped to [4, 24]."""
    import math
    if n_rows <= target_bucket:
        return 4
    return max(4, min(24, math.ceil(math.log2(n_rows / target_bucket))))


def _band_planes(bands: int, bits: int) -> list[list[list[float]]]:
    planes = pt.hyperplanes(bands * bits, DIM)
    return [planes[b * bits:(b + 1) * bits] for b in range(bands)]


def _sig_udf(bands: int, bits: int):
    """Arrow-batched signature kernel: band keys + norm in ONE pass.

    The per-(row, plane) dot product accumulates SEQUENTIALLY over the
    dimension index while vectorizing over the rows of the Arrow batch
    (``acc += mat[:, i] * P[:, i]`` for i in 0..DIM-1): every row/plane
    pair sees exactly the left-to-right IEEE addition order of the
    oracle's sequential fold, so the sign bits — and hence the band keys
    — are bit-identical to the DuckDB CASE WHEN fold, while the batch
    does numpy-vectorized work instead of 32 interpreted Catalyst folds
    per row.  (This is the "batched cell assignment via vectorized Arrow
    UDFs" design of the engine's cell indices applied to hyperplane
    signatures; unrolled native arithmetic was tried first but 32x64
    multiply-add terms in one projection exceed janino's 64 KB method
    cap and de-codegen the whole stage.)
    """
    from pyspark.sql.functions import pandas_udf

    plane_rows = pt.hyperplanes(bands * bits, DIM)
    pmat = np.array(plane_rows, dtype=np.float64)          # (bands*bits, DIM)

    @pandas_udf("struct<keys: array<int>, norm: double>")
    def sig(v: pd.Series) -> pd.DataFrame:
        if not len(v):
            return pd.DataFrame({"keys": [], "norm": []})
        mat = np.stack(v.to_numpy()).astype(np.float64)    # (n, DIM)
        n = mat.shape[0]
        acc = np.zeros((n, pmat.shape[0]), dtype=np.float64)
        nacc = np.zeros(n, dtype=np.float64)
        for i in range(mat.shape[1]):
            col = mat[:, i]
            acc += col[:, None] * pmat[None, :, i]
            nacc += col * col
        signs = acc > 0                                     # (n, bands*bits)
        weights = np.array([1 << j for j in range(bits)], dtype=np.int64)
        keys = [
            (signs[:, b * bits:(b + 1) * bits] @ weights).astype(np.int32)
            for b in range(bands)]
        key_lists = np.stack(keys, axis=1).tolist()
        return pd.DataFrame({"keys": key_lists, "norm": np.sqrt(nacc)})

    return sig


def band_key_sql(vec_col: str, d: str, band: int,
                 bands: int = DEFAULT_BANDS, bits: int = DEFAULT_BITS) -> str:
    """One band's key as a dialect SQL expression (oracle side)."""
    planes = _band_planes(bands, bits)[band]
    parts = [f"(CASE WHEN ({pt.dot_literal(vec_col, plane, d)}) > 0 "
             f"THEN {1 << j} ELSE 0 END)"
             for j, plane in enumerate(planes)]
    return "(" + " + ".join(parts) + ")"


def _resolve_bits(bits: int | None, df: DataFrame,
                  n_rows: int | None) -> int:
    """Resolve ``bits=None`` auto-scaling ONCE per operator call.

    Callers that know the corpus size (or read it from a layout manifest)
    pass ``n_rows`` and no extra Spark job runs; otherwise one count()
    resolves it.  Two-sided operators MUST resolve before building either
    side: corpus and query keys computed at different ``bits`` select
    different hyperplane slices and the band join silently degenerates to
    near-random candidates."""
    if bits is not None:
        return bits
    return band_bits(n_rows if n_rows is not None else df.count())


def with_band_keys(df: DataFrame, vec_col: str = "embedding",
                   bands: int = DEFAULT_BANDS,
                   bits: int | None = DEFAULT_BITS,
                   n_rows: int | None = None,
                   norm_col: str | None = None) -> DataFrame:
    """Explodes each row into `bands` rows with (band, key) columns.

    The signature (bands*bits sign dots + optionally the row norm) is one
    Arrow-batched kernel pass per row — the write-time assignment cost.
    ``norm_col`` additionally surfaces the fold-exact vector norm from
    the same pass (callers need it to score candidates with a single
    native dot product per pair)."""
    bits = _resolve_bits(bits, df, n_rows)
    sig = _sig_udf(bands, bits)
    keyed = df.withColumn("_sig", sig(F.col(vec_col)))
    if norm_col is not None:
        keyed = keyed.withColumn(norm_col, F.col("_sig.norm"))
    return (keyed
            .select("*", F.posexplode(F.col("_sig.keys")).alias("band", "key"))
            .drop("_sig"))


def _dot(vec_a: str, vec_b: str):
    """Exact dot product, unrolled to flat native arithmetic for the fixed
    embedding width — bit-identical to the oracle's sequential fold (same
    left-to-right IEEE addition order) but whole-stage-codegen instead of
    an interpreted higher-order `aggregate()`."""
    return F.expr(pt.dot_unrolled(vec_a, vec_b, pt.SPARK, DIM))


def _sim(vec_a: str, vec_b: str):
    """Cosine similarity column (unit-safe: explicit norm division)."""
    return _dot(vec_a, vec_b) / (F.sqrt(_dot(vec_a, vec_a))
                                 * F.sqrt(_dot(vec_b, vec_b)))


def _norm_col(vec_col: str):
    """sqrt(dot(v, v)) — same addition order the oracle uses, computed
    ONCE per row before candidate joins, so the per-PAIR work is a single
    dot (dot / (norm_a * norm_b), values bit-identical to _sim)."""
    return F.sqrt(_dot(vec_col, vec_col))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force exact cosine top-k: broadcast queries x full corpus scan.

    Norms are hoisted to one per ROW before the cross join, so each of
    the n*q pairs pays a single 64-term native dot — both algorithmically
    (3 dots -> 1 per pair) and because one dot compiles inside the join's
    whole-stage codegen while three together exceed janino's method cap."""
    q = (queries.select(F.col(id_col).alias("qid"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("__nb", F.sqrt(_dot("qvec", "qvec"))))
    cand = (corpus.select(F.col(id_col), F.col(vec_col))
            .withColumn("__na", _norm_col(vec_col)))
    sim = _dot(vec_col, "qvec") / (F.col("__na") * F.col("__nb"))
    win = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (cand.crossJoin(F.broadcast(q))
            .where(F.col("qid") != F.col(id_col))
            .withColumn("sim", sim)
            .withColumn("ann_rank", F.row_number().over(win))
            .where(F.col("ann_rank") <= k)
            .select("qid", id_col, "ann_rank"))


def write_band_index(corpus: DataFrame, path: str,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bands: int = DEFAULT_BANDS,
                     bits: int | None = None,
                     n_rows: int | None = None) -> DataFrame:
    """WRITE-TIME half of the banded sign-LSH index: materialize the
    corpus signature table ``(id, vec, norm, band, key)`` sorted by
    (band, key) — the cell-id pattern of sources/layout.write_indexed
    applied to embeddings.  The manifest records (bands, bits) so query
    time derives its keys from the SAME hyperplane slices.  Returns the
    read-back table."""
    from geomesa_spark.sources import sigtable

    bits = _resolve_bits(bits, corpus, n_rows)
    c = with_band_keys(corpus, vec_col, bands, bits, norm_col="__norm") \
        .select(id_col, vec_col, "__norm", "band", "key")
    out = sigtable.materialize(c, path, sort_cols=["band", "key"])
    sigtable.write_sig_manifest(
        corpus.sparkSession, path,
        {"kind": "sign_lsh", "bands": bands, "bits": bits,
         "id_col": id_col, "vec_col": vec_col, "dim": DIM})
    return out


def read_band_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Read a materialized band index and its manifest (bands/bits)."""
    from geomesa_spark.sources import sigtable

    return spark.read.parquet(path), sigtable.read_sig_manifest(spark, path)


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             bands: int = DEFAULT_BANDS,
             bits: int | None = DEFAULT_BITS,
             n_rows: int | None = None,
             sig_path: str | None = None) -> DataFrame:
    """ANN top-k over banded sign-LSH candidates (scale path).

    Candidates = corpus rows sharing >=1 band key with the query (broadcast
    hash join on (band, key)); duplicate band hits are collapsed BEFORE
    scoring, so each unique candidate pays exactly one dot product.
    ``bits`` is resolved ONCE and shared by both sides (different bits
    would select different hyperplane slices and the join would produce
    near-random candidates).  With ``sig_path`` the corpus signature is
    materialized as a write-time table (write_band_index) and every
    consumer scans it instead of re-executing the signature lineage."""
    bits = _resolve_bits(bits, corpus, n_rows)
    if sig_path is not None:
        c = write_band_index(corpus, sig_path, id_col, vec_col, bands,
                             bits).withColumnRenamed("__norm", "__na")
    else:
        c = with_band_keys(corpus, vec_col, bands, bits, norm_col="__na")
    q = (with_band_keys(queries, vec_col, bands, bits, norm_col="__nb")
         .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"),
                 "__nb", "band", "key"))
    sim = _dot(vec_col, "qvec") / (F.col("__na") * F.col("__nb"))
    win = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (c.join(F.broadcast(q), ["band", "key"])
            .where(F.col("qid") != F.col(id_col))
            .groupBy("qid", id_col)
            .agg(F.first(vec_col).alias(vec_col), F.first("qvec").alias("qvec"),
                 F.first("__na").alias("__na"), F.first("__nb").alias("__nb"))
            .withColumn("sim", sim)
            .withColumn("ann_rank", F.row_number().over(win))
            .where(F.col("ann_rank") <= k)
            .select("qid", id_col, "ann_rank"))


def near_dup_pairs(corpus: DataFrame, threshold: float = 0.99,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   bands: int = DEFAULT_BANDS,
                   bits: int | None = DEFAULT_BITS,
                   n_rows: int | None = None,
                   sig_path: str | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: banded-LSH candidates + exact refine.

    Pairs sharing any band key (duplicates always do: positive scaling
    preserves every hyperplane sign) are deduped FIRST, then refined with
    exact cosine >= threshold — one dot product per unique candidate pair,
    norms precomputed per row.  Output (id_a < id_b, sim_ppm).  With
    ``sig_path`` the banded signature is a materialized write-time table
    scanned by BOTH sides of the self-join (one signature pass, not two)."""
    bits = _resolve_bits(bits, corpus, n_rows)
    if sig_path is not None:
        b = write_band_index(corpus, sig_path, id_col, vec_col, bands,
                             bits).withColumnRenamed("__norm", "__n")
    else:
        b = with_band_keys(corpus, vec_col, bands, bits, norm_col="__n")
    la = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"),
                  F.col("__n").alias("__na"), "band", "key")
    lb = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"),
                  F.col("__n").alias("__nb"), "band", "key")
    sim = _dot("vec_a", "vec_b") / (F.col("__na") * F.col("__nb"))
    return (la.join(lb, ["band", "key"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.first("vec_a").alias("vec_a"), F.first("vec_b").alias("vec_b"),
                 F.first("__na").alias("__na"), F.first("__nb").alias("__nb"))
            .withColumn("sim", sim)
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b",
                    F.floor(F.col("sim") * 1e6).cast("long").alias("sim_ppm")))


def cosine_topk_arrow(corpus: DataFrame, queries_pd: pd.DataFrame, k: int = 5,
                      id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Vectorized (numpy/BLAS) brute-force top-k — the wide-vector fast path.

    `queries_pd` is a small pandas frame (qid, qvec list).  Each Arrow batch
    computes a full matmul; per-partition top-k keeps shuffle tiny, the final
    exact top-k is a window over ~k*partitions rows.
    """
    qids = queries_pd["qid"].to_numpy()
    qmat = np.stack(queries_pd["qvec"].to_numpy()).astype(np.float64)
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)

    out_schema = f"qid long, {id_col} long, sim double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            sims = mat @ qmat.T                      # (batch, nq)
            ids = pdf[id_col].to_numpy()
            parts = []
            for qi, qid in enumerate(qids):
                col = sims[:, qi]
                mask = ids != qid
                take = min(k, int(mask.sum()))
                if take == 0:
                    # batch contains only the query row itself
                    continue
                idx = np.argpartition(-col[mask], take - 1)[:take]
                parts.append(pd.DataFrame({
                    "qid": qid, id_col: ids[mask][idx], "sim": col[mask][idx]}))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    win = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (scored.withColumn("ann_rank", F.row_number().over(win))
            .where(F.col("ann_rank") <= k)
            .select("qid", id_col, "ann_rank"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + probe-limited scan
# ---------------------------------------------------------------------------

def ivf_index(corpus: DataFrame, nlist: int = 16,
              vec_col: str = "embedding", seed: int = 7):
    """Train the coarse quantizer and assign every vector to its nearest
    centroid — the write-time half of an IVF index (FAISS IndexIVFFlat
    design): ``list_id`` is the partition/cluster key, exactly the cell-id
    role the spatial engine gives z2/s2.

    Returns (assigned_df with ``list_id``, centroids as a list of numpy
    arrays).  Training uses Spark ML's distributed k-means (JVM side);
    assignment is model.transform — no Python in the scan path.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn(
        "__features",
        array_to_vector(F.expr(f"transform({vec_col}, v -> cast(v AS double))")))
    model = KMeans(k=nlist, seed=seed, maxIter=10,
                   featuresCol="__features", predictionCol="list_id") \
        .fit(feats.select("__features"))
    assigned = model.transform(feats).drop("__features")
    centroids = [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    return assigned, centroids


def write_ivf_index(corpus: DataFrame, path: str, nlist: int = 16,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 7):
    """WRITE-TIME half of the IVF index (FAISS IndexIVFFlat: ``train`` +
    ``add`` happen at build time, never per query): train the k-means
    coarse quantizer, materialize the assignment table
    ``(id, vec, norm, list_id)`` sorted by list_id — parquet row-group
    min/max stats on the sorted list_id support probe-pruned scans, the
    same physical property layout.write_indexed gives cell keys — and
    store the centroids in the sigtable manifest so query time probes the
    SAME quantizer.  Returns (assignment_df, centroids)."""
    from geomesa_spark.sources import sigtable

    assigned, centroids = ivf_index(corpus, nlist, vec_col, seed)
    out = assigned.withColumn("__norm", _norm_col(vec_col)) \
        .select(id_col, vec_col, "__norm", "list_id")
    out = sigtable.materialize(out, path, sort_cols=["list_id"])
    sigtable.write_sig_manifest(
        corpus.sparkSession, path,
        {"kind": "ivf", "nlist": nlist, "seed": seed,
         "id_col": id_col, "vec_col": vec_col,
         "centroids": [[float(v) for v in c] for c in centroids]})
    return out, centroids


def read_ivf_index(spark, path: str):
    """Read a materialized IVF index: (assignment_df, centroids, manifest).
    Raises if the path/manifest is absent — callers fall back to
    write_ivf_index."""
    import numpy as np
    from geomesa_spark.sources import sigtable

    meta = sigtable.read_sig_manifest(spark, path)
    cents = [np.asarray(c, dtype=np.float64) for c in meta["centroids"]]
    return spark.read.parquet(path), cents, meta


def ivf_topk(corpus: DataFrame, queries_pd, k: int = 5, nlist: int = 16,
             nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", seed: int = 7,
             assigned: DataFrame | None = None,
             centroids=None,
             index_path: str | None = None) -> DataFrame:
    """IVF ANN top-k: probe only each query's ``nprobe`` nearest inverted
    lists, exact cosine + rank inside them.

    ``queries_pd`` is a small pandas frame (qid, qvec list) — the probe
    set per query is computed driver-side against the (tiny) centroid
    table, then pushed as an IN-predicate on ``list_id``: on a
    list_id-partitioned layout this prunes ~ (nlist-nprobe)/nlist of the
    corpus before any distance work.  Recall is the standard IVF
    tradeoff (nprobe=nlist degenerates to exact brute force).
    """
    import numpy as np
    spark = corpus.sparkSession
    if assigned is None or centroids is None:
        if index_path is not None:
            try:
                assigned, centroids, meta = read_ivf_index(spark, index_path)
                if meta.get("nlist") != nlist or meta.get("seed") != seed \
                        or meta.get("vec_col") != vec_col \
                        or meta.get("id_col") != id_col:
                    raise ValueError("stale IVF manifest")
            except Exception:
                assigned, centroids = write_ivf_index(
                    corpus, index_path, nlist, id_col, vec_col, seed)
        else:
            assigned, centroids = ivf_index(corpus, nlist, vec_col, seed)
    cmat = np.stack(centroids)
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cunit = cmat / np.maximum(cnorm, 1e-12)

    probe_rows = []
    for _, row in queries_pd.iterrows():
        qv = np.asarray(row["qvec"], dtype=np.float64)
        qu = qv / max(np.linalg.norm(qv), 1e-12)
        sims = cunit @ qu
        for lid in np.argsort(-sims)[:nprobe]:
            probe_rows.append((row["qid"], int(lid)))
    probes = local_table(spark, probe_rows, "qid long, list_id int")

    qdf = local_table(
        spark,
        [(row["qid"], list(map(float, row["qvec"])))
         for _, row in queries_pd.iterrows()],
        "qid long, qvec array<double>")
    na = (F.col("__norm") if "__norm" in assigned.columns
          else _norm_col(vec_col))
    cand = (assigned
            .join(F.broadcast(probes), "list_id")
            .join(F.broadcast(qdf), "qid")
            .where(F.col("qid") != F.col(id_col))
            .withColumn("__na", na)
            .withColumn("__nb", F.sqrt(_dot("qvec", "qvec")))
            .withColumn("sim", _dot(vec_col, "qvec")
                        / (F.col("__na") * F.col("__nb"))))
    win = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (cand.withColumn("ann_rank", F.row_number().over(win))
            .where(F.col("ann_rank") <= k)
            .select("qid", id_col, "ann_rank"))


def expand_probes(df: DataFrame, bits: int = DEFAULT_BITS) -> DataFrame:
    """Multiprobe expansion: each (band, key) row additionally probes every
    single-bit-flip neighbor key (bits+1 probes per band).  Applied to the
    QUERY side only (it is broadcast-tiny), this recovers near neighbors
    whose signature differs by one hyperplane vote without growing the
    corpus-side index — the standard multi-probe LSH recall lever
    (Lv et al., VLDB'07)."""
    flips = F.array(F.col("key"),
                    *[F.expr(f"cast(key ^ {1 << j} AS int)")
                      for j in range(bits)])
    return (df.withColumn("key", F.explode(flips)))


def lsh_topk_multiprobe(corpus: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        bands: int = DEFAULT_BANDS,
                        bits: int = DEFAULT_BITS) -> DataFrame:
    """lsh_topk with query-side multiprobe (bits+1 probes per band)."""
    c = with_band_keys(corpus, vec_col, bands, bits, norm_col="__na")
    q = expand_probes(
        with_band_keys(queries, vec_col, bands, bits, norm_col="__nb"),
        bits) \
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"),
                "__nb", "band", "key")
    sim = _dot(vec_col, "qvec") / (F.col("__na") * F.col("__nb"))
    win = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc(id_col))
    return (c.join(F.broadcast(q), ["band", "key"])
            .where(F.col("qid") != F.col(id_col))
            .groupBy("qid", id_col)
            .agg(F.first(vec_col).alias(vec_col), F.first("qvec").alias("qvec"),
                 F.first("__na").alias("__na"), F.first("__nb").alias("__nb"))
            .withColumn("sim", sim)
            .withColumn("ann_rank", F.row_number().over(win))
            .where(F.col("ann_rank") <= k)
            .select("qid", id_col, "ann_rank"))
