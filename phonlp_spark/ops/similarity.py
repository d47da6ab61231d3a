"""Similarity search and near-duplicate detection over embedding columns
(array<float>), laid out as filter-and-verify: every public operator is
a candidate generator, and one of two private verifiers scores what it
generates.

Candidate generators (per-row projections; the corpus never shuffles
for assignment):

- brute force (``cosine_topk``): every corpus vector — the exact
  baseline;
- hyperplane LSH: sign-bit buckets under seeded hyperplanes folded into
  the plan as literal arrays, so the identical arithmetic runs in any
  ANSI SQL engine; one table, L OR-amplified tables, or L tables with
  query-side Hamming-1 multiprobe;
- IVF: nearest-centroid cells under seeded centroids, or under k-means
  centroids fitted in-engine on the x1000 integer grid, with
  ``n_probe`` cells per vector.

Verifiers — the only code holding the cosine, the tie rule and the
threshold:

- ``_topk``: (query, neighbor) pairs sharing a generator key, deduped,
  ranked by (cos desc, neighbor_id asc), rank <= k kept;
- ``_near_dups``: pairs a < b sharing a generator key, deduped, kept
  when round(cos * 1000) >= the threshold.

Every operator reads the ``vec_id`` and ``embedding`` columns.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from phonlp_spark.ops.fanout import fan_out

LSH_PLANES = 4
EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Double-precision dot product of two array columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def _vectors(embeddings: DataFrame, key: str) -> DataFrame:
    """(key, key_vec, key_norm): each vector with its norm projected
    once, so scoring a pair never recomputes a norm."""
    v = F.col("embedding")
    return embeddings.select(F.col("vec_id").alias(key),
                             v.alias(f"{key}_vec"),
                             norm(v).alias(f"{key}_norm"))


def _cosine(a: str, b: str) -> Column:
    """The one cosine: dot over the product of the projected norms — the
    same double-precision expression the oracles evaluate."""
    return (dot(F.col(f"{a}_vec"), F.col(f"{b}_vec"))
            / (F.col(f"{a}_norm") * F.col(f"{b}_norm")))


def _first_max(scores: Column) -> Column:
    """Index of the FIRST maximum of an array of per-cell scores
    (array_position): ties go to the smallest cell, the same first-match
    rule ANSI engines implement, so oracles agree."""
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def _topk(embeddings: DataFrame, query_ids: list[int], k: int,
          corpus: DataFrame | None = None,
          probes: DataFrame | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank): the one top-k verifier.

    ``corpus`` and ``probes`` are a generator's (vec_id, key...)
    assignments of corpus and query vectors: a neighbor is a candidate
    when it shares any key with the query.  Without them every corpus
    vector is a candidate — the exact path: the query side is tiny by
    contract, so one broadcast nested-loop join over the corpus, fanned
    out to cluster width (the |corpus| * |queries| dot products must not
    sit inside the scan stage's 1-2 tasks).  Ties in cosine go to the
    smaller neighbor id.

    A pair colliding in several tables or probes arrives more than once.
    dense_rank gives the copies one rank and the next neighbor the next
    rank, so ranks equal row_number over deduped candidates; the final
    distinct folds the copies inside the window's query_id partitions,
    with no shuffle of its own.
    """
    q = _vectors(embeddings.filter(F.col("vec_id").isin(query_ids)),
                 "query_id")
    if corpus is None:
        scored = _vectors(fan_out(embeddings), "neighbor_id") \
            .crossJoin(F.broadcast(q))
    else:
        keys = [c for c in corpus.columns if c != "vec_id"]
        p = probes.filter(F.col("vec_id").isin(query_ids)) \
            .withColumnRenamed("vec_id", "query_id")
        cand = corpus.join(F.broadcast(p), keys) \
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        scored = (cand.join(F.broadcast(q), "query_id")
                  .join(_vectors(embeddings, "neighbor_id"), "neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    return (scored.filter(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("cos", _cosine("query_id", "neighbor_id"))
            .withColumn("rank", F.dense_rank().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
            .distinct())


def drop_hot_buckets(assign: DataFrame, keys: list[str],
                     cap: int | None) -> DataFrame:
    """Hot-bucket guard for pair-generating bucket self-joins: drop
    bucket groups holding more than ``cap`` rows BEFORE the self-join.

    A degenerate corpus (millions of near-identical vectors hashing to
    one bucket) otherwise goes quadratic inside that bucket — the same
    failure mode the stop-shingle guard (ops/dedup.py jaccard_pairs)
    covers for text.  Dropped buckets trade recall for a hard bound of
    cap^2/2 pairs per bucket; the recall gates measure the cost.  The
    hot-bucket list is tiny by construction (at most |corpus|/cap
    rows) -> broadcast anti-join, one extra count aggregate.
    """
    if cap is None:
        return assign
    hot = (assign.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
           .filter(F.col("_n") > cap).select(*keys))
    return assign.join(F.broadcast(hot), keys, "left_anti")


def _near_dups(embeddings: DataFrame, assign: DataFrame,
               min_cos_x1000: int, max_bucket_size: int | None) -> DataFrame:
    """(a, b, cos_x1000): the one near-dup verifier.

    ``assign`` is a generator's (vec_id, key...) assignment.  Key groups
    over ``max_bucket_size`` rows are dropped (drop_hot_buckets), pairs
    a < b sharing any key are deduped, and exact cosine filters at
    min_cos_x1000/1000 — never the full cross product.  Output is
    integer-valued (round(cos*1000)) so oracles hash identically; both
    engines compute the identical IEEE double expression before the
    round.
    """
    keys = [c for c in assign.columns if c != "vec_id"]
    g = drop_hot_buckets(assign, keys, max_bucket_size)
    cand = (g.alias("l").join(g.alias("r"), keys)
            .filter(F.col("l.vec_id") < F.col("r.vec_id"))
            .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
            .distinct())
    return (cand.join(_vectors(embeddings, "a"), "a")
            .join(_vectors(embeddings, "b"), "b")
            .withColumn("cos_x1000",
                        F.round(_cosine("a", "b") * 1000).cast("int"))
            .filter(F.col("cos_x1000") >= min_cos_x1000)
            .select("a", "b", "cos_x1000"))


def cosine_topk(embeddings: DataFrame, query_ids: list[int],
                k: int = 5) -> DataFrame:
    """(query_id, neighbor_id, rank): exact top-k cosine neighbors over
    the whole corpus (see _topk)."""
    return _topk(embeddings, query_ids, k)


def seeded_hyperplanes(seed: int = 7, planes: int = LSH_PLANES,
                       dim: int = EMB_DIM) -> np.ndarray:
    return np.random.default_rng(seed).normal(size=(planes, dim))


def lsh_buckets(embeddings: DataFrame, seed: int = 7,
                planes: int = LSH_PLANES) -> DataFrame:
    """(vec_id, bucket): sign-bit bucket under seeded hyperplanes.

    The hyperplanes are literal constants in the plan — reproducible on
    any engine, and the bucket is a pure per-row expression (no
    shuffle); ANN search then joins candidates within a bucket only.
    `planes` scales the bucket count (2^planes) with corpus size.
    """
    hp = seeded_hyperplanes(seed, planes)
    bucket = F.lit(0)
    for p in range(hp.shape[0]):
        plane = F.array(*[F.lit(float(x)) for x in hp[p]])
        d = dot(F.col("embedding"), plane)
        bucket = bucket + F.when(d > 0, F.lit(1 << p)).otherwise(0)
    # fan_out: the planes x dim dot products per row are the whole cost
    # of every LSH-family operator; no-op on wide (real-scale) scans
    return fan_out(embeddings).select("vec_id",
                                      bucket.cast("int").alias("bucket"))


def ann_topk_lsh(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                 seed: int = 7, planes: int = LSH_PLANES) -> DataFrame:
    """Approximate top-k over one hash table: exact rescoring restricted
    to same-bucket candidates (the n_tables=1 case of
    ann_topk_lsh_multi)."""
    return ann_topk_lsh_multi(embeddings, query_ids, k, n_tables=1,
                              planes=planes, seed=seed)


def lsh_buckets_multi(embeddings: DataFrame, n_tables: int = 4,
                      planes: int = LSH_PLANES, seed: int = 7) -> DataFrame:
    """(vec_id, table_id, bucket): L independent hash tables.

    One table's recall is bounded by its single bucket (measurably bad:
    the ann_recall gate shows 2-12% here); OR-amplification across L
    tables is the standard fix — a neighbor is a candidate if it
    collides in ANY table.  Table t uses hyperplanes seeded seed+t.
    Still a pure per-row projection (union of L codegen exprs, no
    shuffle); candidate generation joins on (table_id, bucket)."""
    out = None
    for t in range(n_tables):
        b = lsh_buckets(embeddings, seed + t, planes) \
            .select("vec_id", F.lit(t).alias("table_id"), "bucket")
        out = b if out is None else out.unionAll(b)
    return out


def ann_topk_lsh_multi(embeddings: DataFrame, query_ids: list[int],
                       k: int = 5, n_tables: int = 4,
                       planes: int = LSH_PLANES, seed: int = 7) -> DataFrame:
    """Approximate top-k over the union of L hash tables' candidates:
    a neighbor is a candidate if it shares the query's bucket in ANY
    table."""
    mb = lsh_buckets_multi(embeddings, n_tables, planes, seed)
    return _topk(embeddings, query_ids, k, mb, mb)


def embedding_near_dups(embeddings: DataFrame, min_cos_x1000: int = 950,
                        seed: int = 7, planes: int = LSH_PLANES,
                        max_bucket_size: int | None = 100_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a, b, cos_x1000) from one
    hyperplane-LSH table: the n_tables=1 case of
    embedding_near_dups_multi.  Buckets holding more than
    ``max_bucket_size`` vectors are dropped from pair generation (see
    drop_hot_buckets); the oracle SQL mirrors the cap.
    """
    return embedding_near_dups_multi(embeddings, min_cos_x1000, n_tables=1,
                                     planes=planes, seed=seed,
                                     max_bucket_size=max_bucket_size)


def embedding_near_dups_multi(embeddings: DataFrame,
                              min_cos_x1000: int = 950,
                              n_tables: int = 4, planes: int = 6,
                              seed: int = 7,
                              max_bucket_size: int | None = 100_000
                              ) -> DataFrame:
    """Near-dup pairs with OR-amplified candidates: the union of L hash
    tables' bucket collisions, exact-cosine thresholded (see
    _near_dups).  The recall gate (dedup_embedding_recall) measures how
    much more of the true pair set the amplification retrieves.
    Per-(table, bucket) groups over ``max_bucket_size`` are dropped
    before the self-join (hot-bucket guard; a pair survives if ANY of
    its tables stays under the cap)."""
    return _near_dups(embeddings,
                      lsh_buckets_multi(embeddings, n_tables, planes, seed),
                      min_cos_x1000, max_bucket_size)


def seeded_centroids(seed: int = 11, n_cells: int = 8,
                     dim: int = EMB_DIM) -> np.ndarray:
    """IVF cell centroids.  Seeded draws here (deterministic, engine-
    independent literals in the plan); production swaps in k-means-
    trained centroids from a sample — the assign/search dataflow below
    is identical either way."""
    return np.random.default_rng(seed).normal(size=(n_cells, dim))


def ivf_cells(embeddings: DataFrame, seed: int = 11,
              n_cells: int = 8) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, pure per-row codegen.

    argmin ||v-c||^2 == argmax (v.c - |c|^2/2); the cell is the first
    index holding the max (_first_max).
    """
    cents = seeded_centroids(seed, n_cells)
    scores = F.array(*[
        dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in c]))
        - F.lit(float(np.dot(c, c) / 2.0))
        for c in cents
    ])
    return embeddings.select("vec_id", _first_max(scores).alias("cell"))


def quantized_vecs(embeddings: DataFrame) -> DataFrame:
    """(vec_id, vq): embeddings on the x1000 integer grid.

    All k-means arithmetic below runs on these exact integers: sums and
    dot products are order-independent (no float-summation drift), so
    the fit is bit-identical across partitionings AND across engines —
    that's what lets a trained index be a hash-checked CORRECTNESS row.
    """
    vq = F.transform(F.col("embedding"),
                     lambda x: F.round(x.cast("double") * 1000).cast("long"))
    # fan_out (no-op on wide scans): every trained-IVF operator's
    # corpus-side scoring is a projection over these rows; the fit
    # itself is partitioning-invariant integer arithmetic, so the
    # round-robin exchange cannot change any result
    return fan_out(embeddings).select("vec_id", vq.alias("vq"))


def _score_q(vq, cq) -> Column:
    """2*v.c - |c|^2 on the integer grid (argmax == argmin ||v-c||^2).
    Values stay well under 2^53, so the double the oracle computes is
    the same exact integer as this long."""
    dot2 = F.aggregate(F.zip_with(vq, cq, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda a, v: a + v)
    nrm = F.aggregate(F.transform(cq, lambda x: x * x),
                      F.lit(0).cast("long"), lambda a, v: a + v)
    return F.lit(2).cast("long") * dot2 - nrm


def assign_cells_q(vq_df: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, vq, cell): nearest-centroid assignment of quantized
    vectors against a (cell, cq) centroid table.  Centroids are tiny by
    construction (n_cells rows) -> broadcast nested-loop; ties go to
    the smallest cell id, the same first-min rule as the literal-expr
    seeded variant."""
    scored = vq_df.crossJoin(F.broadcast(cents)) \
        .withColumn("_score", _score_q(F.col("vq"), F.col("cq")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("_score").desc(), F.col("cell").asc())
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("vec_id", "vq", "cell"))


def kmeans_centroids_q(embeddings: DataFrame, n_cells: int = 8,
                       iters: int = 3, sample_mod: int = 2,
                       seed: int = 11) -> DataFrame:
    """(cell, cq): Lloyd's k-means on the x1000 integer grid, fully
    in-engine and deterministic.

    - sample = rows with vec_id % sample_mod == 0 (a fixed fraction; at
      100 TB the fit never touches the full corpus);
    - init = the seeded centroids quantized to the same grid (plan
      literals, engine-independent);
    - each of the `iters` unrolled rounds: broadcast-join assignment
      (argmin on exact integers), then per-dimension integer sums with
      floor(sum/count) means — floor() is the one division both Spark
      and ANSI engines round identically;
    - cells that lose all members keep their previous centroid, so the
      output always has exactly n_cells rows.

    Scale shape: the sample shuffles once per round on (cell, dim) —
    n_cells*dim tiny groups; centroids stay broadcast-sized throughout.
    Production tunes sample_mod so the sample fits one stage.
    """
    spark = embeddings.sparkSession
    samp = quantized_vecs(embeddings).filter(F.col("vec_id") % sample_mod == 0)
    dim = EMB_DIM
    init = [(c, [int(round(x * 1000)) for x in cent])
            for c, cent in enumerate(seeded_centroids(seed, n_cells, dim))]
    cents = spark.createDataFrame(init, "cell int, cq array<bigint>")
    for _ in range(iters):
        assigned = assign_cells_q(samp, cents)
        upd = (assigned
               .select("cell", F.posexplode("vq").alias("i", "v"))
               .groupBy("cell", "i")
               .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                    .cast("long").alias("cv")))
        newc = (upd.groupBy("cell")
                .agg(F.transform(F.array_sort(F.collect_list(F.struct("i", "cv"))),
                                 lambda s: s.cv).alias("cq_new")))
        cents = (cents.join(newc, "cell", "left")
                 .select("cell", F.coalesce("cq_new", "cq").alias("cq")))
    return cents


def trained_centroids_rows(embeddings: DataFrame, n_cells: int = 8,
                           iters: int = 3, sample_mod: int = 2,
                           seed: int = 11) -> list[tuple[int, list[int]]]:
    """Materialize the k-means fit as [(cell, cq)] driver-side, ordered
    by cell.  Bounded (n_cells rows) by construction; the fit itself
    stays distributed — only its tiny result crosses to the driver so
    downstream assignment can be a shuffle-free literal expression."""
    cents = kmeans_centroids_q(embeddings, n_cells, iters, sample_mod, seed)
    return sorted((r["cell"], list(r["cq"])) for r in cents.collect())


def _scores_arr_q(cents_rows, vq) -> Column:
    """array of 2*v.c - |c|^2 integer scores against literal centroids
    (index == cell): pure per-row codegen, no join, no shuffle."""
    terms = []
    for _cell, cq in cents_rows:
        lit_c = F.array(*[F.lit(int(x)).cast("long") for x in cq])
        nrm = int(sum(x * x for x in cq))
        terms.append(F.lit(2).cast("long") * F.aggregate(
            F.zip_with(vq, lit_c, lambda x, y: x * y),
            F.lit(0).cast("long"), lambda a, v: a + v) - F.lit(nrm).cast("long"))
    return F.array(*terms)


def ivf_cells_trained(embeddings: DataFrame, n_cells: int = 8,
                      iters: int = 3, sample_mod: int = 2, seed: int = 11,
                      cents_rows: list[tuple[int, list[int]]] | None = None
                      ) -> DataFrame:
    """(vec_id, cell) under k-means-trained centroids (the production
    swap COVERAGE.md promises for the seeded ivf_cells).

    Corpus assignment is a PER-ROW literal-expression argmax — exactly
    the seeded ivf_cells plan shape, zero shuffle over the corpus; only
    the sample-sized fit shuffles.  First-max tie rule == smallest
    cell, matching the fit's ORDER BY score DESC, cell.

    ``cents_rows``: precomputed trained_centroids_rows(...) output.
    Callers composing several trained-IVF operators over the same
    corpus pass it to fit k-means ONCE instead of once per operator."""
    rows = cents_rows if cents_rows is not None else trained_centroids_rows(
        embeddings, n_cells, iters, sample_mod, seed)
    scores = _scores_arr_q(rows, F.col("vq"))
    return quantized_vecs(embeddings).select(
        "vec_id", _first_max(scores).alias("cell"))


def ivf_probed_cells_trained(embeddings: DataFrame, n_probe: int = 2,
                             n_cells: int = 8, iters: int = 3,
                             sample_mod: int = 2, seed: int = 11,
                             cents_rows: list[tuple[int, list[int]]] | None = None
                             ) -> DataFrame:
    """(vec_id, cell): each vector assigned to its ``n_probe`` nearest
    trained cells (first row per vector == ivf_cells_trained's home
    cell; n_probe=1 degenerates to it exactly).

    Still a pure per-row projection — the cell ranking is an in-row
    array sort over n_cells integer scores (negated so ascending
    array_sort realizes score-desc with smallest-cell tie rule), so
    the corpus never shuffles for assignment; output is n_probe rows
    per vector."""
    rows = cents_rows if cents_rows is not None else trained_centroids_rows(
        embeddings, n_cells, iters, sample_mod, seed)
    scores = _scores_arr_q(rows, F.col("vq"))
    ranked = F.array_sort(F.transform(
        scores, lambda sc, i: F.struct((-sc).alias("ns"),
                                       i.alias("cell"))))
    probes = F.slice(ranked, 1, n_probe)
    return (quantized_vecs(embeddings)
            .select("vec_id", F.explode(probes).alias("p"))
            .select("vec_id", F.col("p.cell").cast("int").alias("cell")))


def lsh_buckets_multiprobe(embeddings: DataFrame, n_tables: int = 4,
                           planes: int = LSH_PLANES, seed: int = 7) -> DataFrame:
    """(vec_id, table_id, bucket): multi-table buckets EXPANDED to the
    full Hamming-1 neighborhood — each row also probes every bucket
    one sign-flip away (planes+1 rows per vector per table).

    A hyperplane code's nearest misses are overwhelmingly single-bit
    flips (the query sits close to one hyperplane), so probing the
    flip set recovers most of the recall OR-amplification alone leaves
    behind (measured in the quality_recall gate) at (planes+1)x
    candidate cost on ONE side.  Callers expand the QUERY side only —
    the corpus side keeps its exact buckets — so the corpus assignment
    stays a per-row projection of n_tables rows."""
    mb = lsh_buckets_multi(embeddings, n_tables, planes, seed)
    masks = F.array(*[F.lit(m) for m in [0] + [1 << p for p in range(planes)]])
    return (mb.select("vec_id", "table_id", "bucket",
                      F.explode(masks).alias("_m"))
            .select("vec_id", "table_id",
                    F.col("bucket").bitwiseXOR(F.col("_m")).alias("bucket")))


def ann_topk_lsh_multiprobe(embeddings: DataFrame, query_ids: list[int],
                            k: int = 5, n_tables: int = 4,
                            planes: int = LSH_PLANES, seed: int = 7) -> DataFrame:
    """Multiprobe multi-table LSH top-k: candidates collide with the
    query's own bucket OR any Hamming-1 perturbation of it, per table.
    Query-side-only expansion: |queries| * n_tables * (planes+1) probe
    rows against the unexpanded corpus assignment."""
    return _topk(embeddings, query_ids, k,
                 lsh_buckets_multi(embeddings, n_tables, planes, seed),
                 lsh_buckets_multiprobe(
                     embeddings.filter(F.col("vec_id").isin(query_ids)),
                     n_tables, planes, seed))


def ann_topk_ivf_trained(embeddings: DataFrame, query_ids: list[int],
                         k: int = 5, n_probe: int = 2, n_cells: int = 8,
                         iters: int = 3, sample_mod: int = 2, seed: int = 11,
                         cents_rows: list[tuple[int, list[int]]] | None = None
                         ) -> DataFrame:
    """IVF top-k with trained centroids and multi-cell probing.

    Each query probes its n_probe nearest cells (ivf_probed_cells_trained),
    then exact cosine rescoring runs only over those inverted lists
    (ivf_cells_trained) — |corpus| * n_probe / n_cells candidates
    instead of the cross product.  ``cents_rows`` skips the fit when
    precomputed (see ivf_cells_trained).
    """
    rows = cents_rows if cents_rows is not None else trained_centroids_rows(
        embeddings, n_cells, iters, sample_mod, seed)
    return _topk(embeddings, query_ids, k,
                 ivf_cells_trained(embeddings, cents_rows=rows),
                 ivf_probed_cells_trained(embeddings, n_probe, cents_rows=rows))


def embedding_near_dups_ivf(embeddings: DataFrame,
                            min_cos_x1000: int = 950,
                            n_cells: int = 8, iters: int = 3,
                            sample_mod: int = 2, seed: int = 11,
                            cents_rows: list[tuple[int, list[int]]] | None = None,
                            max_bucket_size: int | None = 100_000,
                            n_probe: int = 2) -> DataFrame:
    """Near-dup pairs with trained-IVF candidates: pairs sharing ANY of
    each vector's ``n_probe`` nearest k-means cells (shuffle-free
    per-row assignment), exact-cosine thresholded (see _near_dups).

    n_probe=1 is the classic same-cell generator; its measured miss
    mode (VERDICT r4 next-round #4) is true pairs STRADDLING a cell
    boundary — both members near the edge of adjacent cells.  Probing
    each vector's second-nearest cell makes such a pair collide in one
    of the probed cells at n_probe x candidate cost, the same
    neighbor-cell expansion ann_topk_ivf_trained applies on the query
    side.  On clustered embeddings the cells track the actual
    neighborhoods, so candidate recall beats hyperplane bucketing —
    measured by the quality_recall gate.  ``cents_rows`` skips the fit
    when precomputed; probed cell groups over ``max_bucket_size`` rows
    are dropped from pair generation (hot-bucket guard)."""
    cells = ivf_probed_cells_trained(embeddings, n_probe, n_cells, iters,
                                     sample_mod, seed, cents_rows=cents_rows)
    return _near_dups(embeddings, cells, min_cos_x1000, max_bucket_size)


def recall_vs_exact(exact: DataFrame, approx: DataFrame,
                    method: str) -> DataFrame:
    """One summary row: how much of the exact top-k the approximate
    method retrieved.  (method, hits, total, recall_permille) — integer
    permille so the row hashes identically across engines; an empty
    exact side reads as 0 permille."""
    pairs = exact.select("query_id", "neighbor_id")
    hits = pairs.join(approx.select("query_id", "neighbor_id"),
                      ["query_id", "neighbor_id"], "left_semi") \
        .agg(F.count(F.lit(1)).alias("hits"))
    total = pairs.agg(F.count(F.lit(1)).alias("total"))
    return (hits.crossJoin(total)
            .select(F.lit(method).alias("method"),
                    F.col("hits").cast("bigint").alias("hits"),
                    F.col("total").cast("bigint").alias("total"),
                    F.expr("CAST(hits * 1000 DIV greatest(total, 1) AS INT)")
                    .alias("recall_permille")))


def ann_topk_ivf(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                 seed: int = 11, n_cells: int = 8) -> DataFrame:
    """IVF approximate top-k: exact cosine rescoring restricted to the
    query's own cell (n_probe=1).  Scale shape: the corpus partitions
    into n_cells inverted lists; a query touches |corpus|/n_cells
    candidates instead of everything, and n_cells grows with corpus."""
    cells = ivf_cells(embeddings, seed, n_cells)
    return _topk(embeddings, query_ids, k, cells, cells)
