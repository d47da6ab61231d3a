"""Entity linking: alias dictionary + vectorized similarity.

North-star semantics (BASELINE.json): mention -> canonical entity id
via an alias dictionary lookup; dictionary misses fall back to
vectorized character-3-gram cosine similarity against the alias
inventory (top-1, ties to the smallest entity id); residual misses mint
a content-derived entity id (md5 of the normalized surface), so ids are
stable across partitions, runs and cluster sizes.

Scale shape: linking cost is proportional to DISTINCT mention surfaces,
not total mentions — surfaces are deduplicated before scoring and the
assignment is joined back onto the mention stream.  Placement follows
the input sizes alone:
  * alias surfaces within MAX_ALIASES: one resolver (_Resolver: exact
    map, _best_ids, canonical id) over the collected alias rows runs
    on the driver from one bounded collect of the surfaces (within
    MAX_LOCAL_SURFACES; an Arrow-built local frame, no Python stage)
    or in one mapInArrow stage over them (past it; no join);
  * over MAX_ALIASES: an exact-map join and an inverted-index gram
    join, nothing alias-sized on the driver.
Canonicalization (dict_canonical_names) shares linking's one read of
the dictionary (_alias_index).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from phonlp_spark.pipeline import cc

SIM_DIM = 2048       # hashed char-3gram space
SIM_THRESHOLD = 0.60
# Alias-inventory cap.  It bounds the one Arrow collect of the alias
# index (_alias_index brings MAX_ALIASES + 1 surfaces' entity lists to
# the driver to decide) and the dense [A, SIM_DIM] float32 n-gram
# matrix (~8 KB/alias: 8 GB at the cap) a resolver builds on its first
# miss, on the driver or in one executor task.  Past the cap linking
# and canonicalization go distributed.  Measured at 990,045 surfaces
# (2.38M rows, local[4], 4-core host): in-cap dict_canonical_names 27 s
# vs 36 s for connected components, driver RSS 0.9 GB; just over the
# cap the dropped collect adds ~2 s.  Read at call time.
MAX_ALIASES = 1_000_000
# Driver-placement bound (in cap): at most this many distinct surfaces
# are collected and resolved on the driver, and at most this many
# (miss, alias surface) cosines scored there; past it the resolver runs
# in executor tasks.  tools/link_bound.py (local[4], 4-core host, warm,
# median of 5 alternating runs), driver vs executor: 200 misses x 500
# alias surfaces 0.28 vs 0.53 s; 100,000 surfaces all missing a
# one-surface dictionary 1.36 vs 0.91 s (200,000: 2.33 vs 1.09 s);
# 100,000 exact hits on a 200,000-surface dictionary 4.24 vs 4.24 s;
# 120,000 surfaces, 12,000 missing it: executor 90-95 s (2 runs; no
# driver run, the cell count overflows).  Read at call time.
MAX_LOCAL_SURFACES = 100_000
# query rows x max(alias rows, SIM_DIM) cells per scoring block
_SCORE_BLOCK = 1 << 22

ALIAS_SCHEMA = T.StructType([
    T.StructField("alias", T.StringType()),
    T.StructField("entity_id", T.StringType()),
    T.StructField("canonical", T.StringType()),
])


def norm_surface(col):
    """Normalization used on both the alias and mention sides."""
    return F.lower(F.regexp_replace(col, "_", " "))


def build_alias_dict(spark: SparkSession, names: list[str]) -> DataFrame:
    """Deterministic alias dictionary from canonical entity names.

    Variants per canonical name: the name itself, its space form, and a
    truncation to the first two segments — enough to create alias
    collisions across entities so canonicalization has real work.
    """
    cols: dict[str, list] = {"alias": [], "entity_id": [], "canonical": []}
    for name in names:
        eid = "E" + hashlib.md5(name.encode()).hexdigest()[:12]
        variants = {name, name.replace("_", " ")}
        parts = name.split("_")
        if len(parts) > 2:
            variants.add("_".join(parts[:2]))
        for v in variants:
            cols["alias"].append(v)
            cols["entity_id"].append(eid)
            cols["canonical"].append(name)
    # an Arrow table becomes a LocalRelation: reading the dictionary
    # starts no Python worker (a list of rows would be a parallelized RDD)
    return spark.createDataFrame(
        pa.table({c: pa.array(v, pa.string()) for c, v in cols.items()}),
        ALIAS_SCHEMA)


def _ngram_matrix(surfs, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(counts, norms): the hashed char-3gram count matrix [B, dim] —
    exact integer counts in float32, not normalized, so dot products of
    rows are exact integers — and its rows' float64 L2 norms, the same
    values the distributed path's sqrt(sum(tf*tf)) yields.

    Fully vectorized over the concatenated '  s  ' byte strings (one
    polynomial hash per position, grams crossing a surface boundary
    masked out, one sort to count cells): no per-surface python loop,
    and the norms come from the non-zero cells only.
    """
    enc = [("  " + (s or "") + "  ").encode("utf-8", "ignore") for s in surfs]
    n = len(enc)
    out = np.zeros((n, dim), dtype=np.float32)
    if n == 0:
        return out, np.zeros(0)
    lens = np.fromiter(map(len, enc), np.int64, n)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8).astype(np.int64)
    h = (buf[:-2] * 961 + buf[1:-1] * 31 + buf[2:]) % dim
    row = np.repeat(np.arange(n), lens)[:-2]
    valid = np.arange(len(h)) + 2 < np.cumsum(lens)[row]
    cells, counts = np.unique(row[valid] * dim + h[valid], return_counts=True)
    out.ravel()[cells] = counts
    sq = np.bincount(cells // dim, weights=counts.astype(np.float64) ** 2,
                     minlength=n)
    return out, np.sqrt(sq)


def _raw_grams_udf():
    """Arrow-batched pandas UDF: a surface's RAW char-3gram multiset as
    24-bit byte codes (b0<<16 | b1<<8 | b2) over the same '  s  '
    padding _ngram_matrix uses.  Raw codes key CANDIDATE generation on
    a ~2^24 domain (a gram only matches surfaces that actually contain
    it); the resolver's 2048-bucket hash is derived from the code
    relationally (_hash_of_raw), so SCORING stays in the identical tf
    space."""
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def raw_grams(surfs: pd.Series) -> pd.Series:
        from phonlp_spark.kernel.runtime import drop_zip_importers, tune_worker_runtime
        tune_worker_runtime()
        drop_zip_importers()
        out = []
        for s0 in surfs:
            b = ("  " + (s0 or "") + "  ").encode("utf-8", "ignore")
            arr = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
            rg = (arr[:-2] << 16) | (arr[1:-1] << 8) | arr[2:]
            out.append(rg.astype("int32").tolist())
        return pd.Series(out)
    return raw_grams


def _hash_of_raw(rg):
    """The resolver's hashed bucket, derived JVM-side from a raw
    code: (b0*961 + b1*31 + b2) % SIM_DIM — bit-identical to
    _ngram_matrix's polynomial over the same bytes."""
    b0, b1, b2 = (F.shiftright(rg, 16).bitwiseAND(F.lit(255)),
                  F.shiftright(rg, 8).bitwiseAND(F.lit(255)),
                  rg.bitwiseAND(F.lit(255)))
    return (b0 * 961 + b1 * 31 + b2) % SIM_DIM


def _sparse_grams(df: DataFrame, key: str):
    """Per-surface gram tables for a one-column DataFrame of distinct
    surfaces: (key, _rg, _c) RAW-gram counts, (key, _g, _tf)
    hashed-gram term frequencies (the resolver matrix's tf vector),
    and (key, _norm) hashed-space L2 norms.  One UDF pass; everything
    downstream of the explode is JVM-side; all three shuffle on `key`
    once."""
    raw_grams = _raw_grams_udf()
    g = df.select(F.col(key), F.explode(raw_grams(F.col(key))).alias("_rg"))
    raw_tf = g.groupBy(key, "_rg").agg(
        F.count(F.lit(1)).cast("double").alias("_c"))
    tf = (raw_tf.withColumn("_g", _hash_of_raw(F.col("_rg")))
          .groupBy(key, "_g").agg(F.sum("_c").alias("_tf")))
    norm = tf.groupBy(key).agg(
        F.sqrt(F.sum(F.col("_tf") * F.col("_tf"))).alias("_norm"))
    return raw_tf, tf, norm


def _candidate_pairs(m_raw: DataFrame, a_raw: DataFrame,
                     max_gram_freq: int = 100_000,
                     threshold: float = SIM_THRESHOLD) -> DataFrame:
    """(nsurf, _asurf) candidate pairs via a raw-gram inverted index
    with an L2-mass prefix filter — the set-similarity-join layout:
    selectivity comes from the ~2^24 raw domain (a 2048-bucket posting
    list would hold ~A/2048 aliases).

    Prefix filter (miss side, the standard lossless cosine bound):
    order each miss's grams most-common-first by alias-side document
    frequency and DROP a prefix S while its L2 count mass obeys
    sum_{g in S} c_g^2 < threshold^2 * sum_g c_g^2.  For any alias y
    sharing no KEPT gram with x, every shared gram is in S, so by
    Cauchy-Schwarz  dot(x,y) <= ||x_S||*||y|| < threshold*||x||*||y||
    — the pair cannot clear the link threshold and pruning it is
    lossless.  Up to (1 - t^2) = 64% of a surface's gram mass prunes
    away, so universal affixes ('công ty ', ' việt nam') drop out of
    candidate generation per surface without any global stop list.
    (The bound is exact for the raw-gram cosine; the hashed cosine
    the scorer computes can exceed it only via several 1/2048
    cross-gram hash collisions within one pair, which the resolver
    would need too; the randomized placement parity tests pin the
    equivalence empirically.)

    Grams carried by more than ``max_gram_freq`` aliases are dropped
    from the index unconditionally (hot-gram safety valve); their
    squared mass DEBITS the prefix budget, so the lossless bound
    covers both drop sets.  A surface whose hot grams already exceed
    the budget gets NO further pruning, so recall degrades only
    through the valve itself: a pair is lost only when
    >max_gram_freq-alias grams carry over t^2 = 36% of the surface's
    squared gram mass AND it shares nothing else.  Scoring never
    drops grams, so every generated pair is scored exactly.
    """
    # every join with an alias-gram table is pinned to a sort-merge
    # join: AQE sizes a side by its compressed shuffle bytes, and a
    # broadcast of one of these tables (millions of small int rows)
    # overran a 3g driver at 100,000 names
    a_df = a_raw.groupBy("_rg").agg(F.count(F.lit(1)).alias("_df")).hint("merge")
    a_idx = (a_raw.join(a_df.filter(F.col("_df") > max_gram_freq)
                        .select("_rg"), "_rg", "left_anti")
             .select("_asurf", "_rg").hint("merge"))
    # alias-absent grams (_df null) shave no candidate and carry no
    # shared mass — excluded from candidacy, the budget and the debit
    mg = m_raw.join(a_df, "_rg", "inner")
    hot2 = (mg.filter(F.col("_df") > max_gram_freq)
            .groupBy("nsurf")
            .agg(F.sum(F.col("_c") * F.col("_c")).alias("_hot2")))
    w = (Window.partitionBy("nsurf")
         .orderBy(F.col("_df").desc(), F.col("_rg").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    norm2_raw = (m_raw.groupBy("nsurf")
                 .agg(F.sum(F.col("_c") * F.col("_c")).alias("_nraw2")))
    kept = (mg.filter(F.col("_df") <= max_gram_freq)
            .join(norm2_raw, "nsurf")
            .join(hot2, "nsurf", "left")
            .withColumn("_cum2", F.sum(F.col("_c") * F.col("_c")).over(w))
            .filter(F.col("_cum2")
                    >= threshold * threshold * F.col("_nraw2")
                    - F.coalesce(F.col("_hot2"), F.lit(0.0)))
            .select("nsurf", "_rg"))
    return (kept.join(a_idx, "_rg")
            .select("nsurf", "_asurf").distinct())


def _score_misses_distributed(misses: DataFrame, alias_norm: DataFrame,
                              max_gram_freq: int = 100_000) -> DataFrame:
    """Stage 2 without the driver: (nsurf) misses -> (nsurf, sim_id)
    for alias dictionaries too large to collect.  Two-phase
    set-similarity join:

    1. CANDIDATES (_candidate_pairs): raw 24-bit gram inverted index +
       L2-mass prefix filter — candidate rows scale with true gram
       overlap, never with |misses| x |aliases| / 2048.
    2. SCORING: on surviving pairs only, the exact 2048-dim hashed-tf
       cosine — the same hashes, tf vectors and FULL norms as the
       resolver's matrix.  Dots and squared norms are exact integer
       sums divided in float64 as dot / (|q|·|a|) on both routes, so
       equal cosines are bit-equal, ties included.

    Tie rule: equal cosines resolve to the smallest entity_id, as in
    the resolver (alias rows sorted by entity_id, first argmax).
    """
    a_raw, a_tf, a_norm = _sparse_grams(
        alias_norm.select(F.col("nsurf").alias("_asurf")), "_asurf")
    m_raw, m_tf, m_norm = _sparse_grams(misses.select("nsurf"), "nsurf")
    cand = _candidate_pairs(m_raw, a_raw, max_gram_freq)

    num = (cand.join(m_tf, "nsurf")
           .join(a_tf.withColumnRenamed("_tf", "_atf").hint("merge"),
                 ["_asurf", "_g"])
           .groupBy("nsurf", "_asurf")
           .agg(F.sum(F.col("_tf") * F.col("_atf")).alias("_dot")))
    scored = (num
              .join(m_norm, "nsurf")
              .join(a_norm.withColumnRenamed("_norm", "_anorm").hint("merge"),
                    "_asurf")
              .join(alias_norm.withColumnRenamed("nsurf", "_asurf").hint("merge"),
                    "_asurf")
              .withColumn("_cos", F.col("_dot")
                          / (F.col("_norm") * F.col("_anorm"))))
    w = Window.partitionBy("nsurf").orderBy(
        F.col("_cos").desc(), F.col("entity_id").asc())
    top1 = (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("nsurf",
                    F.when(F.col("_cos") >= SIM_THRESHOLD,
                           F.col("entity_id")).alias("sim_id")))
    # a miss with zero candidate pairs (no alias-shared gram, or only
    # hot-dropped grams) has no rows in top1 — re-attach it with a
    # NULL sim_id so the caller mints a new id, exactly as the
    # resolver does for below-threshold misses
    return misses.join(top1, "nsurf", "left").select("nsurf", "sim_id")


def _alias_index(alias_dict: DataFrame):
    """ONE bounded Arrow collect, one row per distinct normalized
    surface, or None over MAX_ALIASES — the one route decision of
    linking and canonicalization.  Returns (surfaces, entries):
    (nsurf, entity_id = the surface's min id, nulls skipped as by F.min)
    sorted by id, nulls first as Spark sorts; and one (entity_id,
    canonical, hub = that min id, null on a null surface) per distinct
    (surface, entity_id, canonical)."""
    tbl = (alias_dict.groupBy(norm_surface(F.col("alias")).alias("nsurf"))
           .agg(F.collect_set(F.struct("entity_id", "canonical")).alias("ents"))
           .limit(MAX_ALIASES + 1).toArrow())
    if tbl.num_rows > MAX_ALIASES:
        return None
    lists = tbl["ents"].combine_chunks()
    flat = lists.flatten()
    owner = pc.list_parent_indices(lists)
    hub = (pa.table({"s": owner, "e": flat.field("entity_id")})
           .group_by("s").aggregate([("e", "min")]).sort_by("s")["e_min"])
    nsurf = tbl["nsurf"].combine_chunks()
    surfaces = (pa.table({"nsurf": nsurf, "entity_id": hub})
                .sort_by([("entity_id", "ascending")], null_placement="at_start"))
    hub = pc.if_else(pc.is_null(nsurf), pa.nulls(len(hub), pa.string()), hub)
    entries = pa.table({"entity_id": flat.field("entity_id"),
                        "canonical": flat.field("canonical"),
                        "hub": hub.take(owner)})
    return surfaces, entries


def _alias_matrix(alias_rows: pa.Table):
    """(count matrix, float64 norms, entity ids) of the index's alias
    rows, in their id order.  A null alias surface joins nothing, on
    the distributed route too, so it is no scoring row."""
    rows = alias_rows.filter(pc.is_valid(alias_rows["nsurf"]))
    mat, norms = _ngram_matrix(rows["nsurf"].to_pylist(), SIM_DIM)
    return mat, norms, rows["entity_id"].to_pylist()


def _mint(surface: str) -> str:
    """Stage 3's content-derived id, 'X' + md5(surface)[:12] — the value
    of the distributed route's Spark expression."""
    return "X" + hashlib.md5(surface.encode("utf-8")).hexdigest()[:12]


def _best_ids(surfs: list, mat: np.ndarray, anorm: np.ndarray, ids: list) -> list:
    """Stages 2-3 for missed surfaces, the resolver's scorer: cosine
    top-1 against the alias rows, SIM_THRESHOLD, else the minted id.
    The rows are sorted by entity_id, so the first argmax is the
    smallest id on a tie.  Scores one block of at most _SCORE_BLOCK
    cells at a time; a null surface stays null."""
    out: list = []
    step = max(1, _SCORE_BLOCK // max(len(ids), SIM_DIM))
    for lo in range(0, len(surfs), step):
        block = surfs[lo:lo + step]
        best = np.zeros(len(block), np.int64)
        hit = np.zeros(len(block), bool)
        if ids:
            qs, qnorm = _ngram_matrix(block, SIM_DIM)
            # integer dots are exact in float32; the division runs in
            # float64 exactly as the distributed path's, so a tie is
            # bit-equal whatever rows share the block
            scores = (qs @ mat.T).astype(np.float64) / np.outer(qnorm, anorm)
            best = scores.argmax(axis=1)
            hit = scores[np.arange(len(best)), best] >= SIM_THRESHOLD
        out += [None if s is None else
                ids[b] if h and ids[b] is not None else _mint(s)
                for s, b, h in zip(block, best.tolist(), hit.tolist())]
    return out


class _Resolver:
    """The one in-cap surface resolver, run on the driver and in
    executor tasks: nsurf array -> (nsurf, entity_id[, canonical_id]).
    The exact map of the alias rows (nulls never match), _best_ids for
    the misses, then the canonical id from the union-find table, if
    given; None when misses x alias rows exceed max_cells.  Each lookup
    is hashed on first use and the n-gram matrix built on the first
    miss, at most once per resolver."""

    def __init__(self, alias_rows: pa.Table, canon: pa.Table | None = None):
        self.alias_rows, self.canon = alias_rows, canon
        self._exact = self._cid = self._matrix = None

    def __call__(self, nsurf: pa.Array, max_cells: int | None = None) -> pa.Table | None:
        self._exact = self._exact or _lookup(self.alias_rows, "nsurf", "entity_id")
        eid = self._exact(nsurf)
        miss = pc.and_(pc.is_null(eid), pc.is_valid(nsurf))
        missed = nsurf.filter(miss).to_pylist()
        if max_cells is not None and len(missed) * self.alias_rows.num_rows > max_cells:
            return None
        if missed:
            self._matrix = self._matrix or _alias_matrix(self.alias_rows)
            eid = pc.replace_with_mask(eid, miss, pa.array(
                _best_ids(missed, *self._matrix), pa.string()))
        out = pa.table({"nsurf": nsurf, "entity_id": eid})
        if self.canon is None:
            return out
        self._cid = self._cid or _lookup(self.canon, "entity_id", "cid")
        return out.append_column("canonical_id", pc.coalesce(self._cid(eid), eid))


def _lookup(tbl: pa.Table, key: str, value: str):
    """keys -> tbl's values at those distinct keys (null where null or
    absent), hashed once (pd.Index), not per call as by pc.index_in."""
    tbl = tbl.filter(pc.is_valid(tbl[key]))
    index = pd.Index(tbl[key].combine_chunks().to_numpy(zero_copy_only=False))
    values = tbl[value].combine_chunks()

    def get(keys: pa.Array) -> pa.Array:
        pos = index.get_indexer(keys.to_numpy(zero_copy_only=False))
        return values.take(pa.array(pos, mask=pos < 0))
    return get


def _local_links(surfaces: DataFrame, resolve: _Resolver) -> pa.Table | None:
    """The driver placement: ONE bounded Arrow collect of the distinct
    surfaces and one resolver call, or None when the surfaces or misses
    x alias rows exceed MAX_LOCAL_SURFACES."""
    tbl = surfaces.select("nsurf").limit(MAX_LOCAL_SURFACES + 1).toArrow()
    if tbl.num_rows > MAX_LOCAL_SURFACES:
        return None
    return resolve(tbl["nsurf"].combine_chunks(), MAX_LOCAL_SURFACES)


def _in_cap_links(surfaces: DataFrame, alias_rows: pa.Table,
                  canon: pa.Table | None = None) -> tuple[DataFrame, bool]:
    """(surface map, resolved on the driver?) from one _Resolver over
    the alias index: on the driver (_local_links), else one mapInArrow
    stage over the surfaces with one resolver per task.  That stage
    ships the alias rows, not a matrix."""
    schema = "nsurf string, entity_id string" + (
        "" if canon is None else ", canonical_id string")
    links = _local_links(surfaces, _Resolver(alias_rows, canon))
    if links is not None:
        return surfaces.sparkSession.createDataFrame(links, schema), True

    def resolve_batches(batches):
        from phonlp_spark.kernel.runtime import drop_zip_importers, tune_worker_runtime
        tune_worker_runtime()  # allocator fix (see kernel/runtime.py)
        resolve = _Resolver(alias_rows, canon)
        for batch in batches:
            yield from resolve(batch.column("nsurf")).to_batches()
        drop_zip_importers()  # the worker's next task re-reads no zip
    return surfaces.select("nsurf").mapInArrow(resolve_batches, schema), False


def link_surfaces(surfaces: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(nsurf) distinct normalized surfaces -> (nsurf, entity_id):
    stage 1, exact match on the normalized surface (each surface to its
    smallest entity id); stage 2, for misses, cosine top-1 against the
    alias char-3gram inventory; stage 3, residual -> content-derived
    new id 'X'+md5(surface)[:12].

    Within MAX_ALIASES one _Resolver runs all three, on the driver
    (within MAX_LOCAL_SURFACES) or mapped over the surfaces (past it).
    Over it stage 1 is a join and stage 2 an inverted-index gram join
    (_score_misses_distributed) with the same hashes, tf vectors,
    float64 cosine and threshold: equal cosines are bit-equal, so every
    placement gives the same mapping, ties included.
    """
    index = _alias_index(alias_dict)
    if index is None:
        return _link_in_spark(surfaces, alias_dict)
    return _in_cap_links(surfaces, index[0])[0]


def _link_in_spark(surfaces: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """link_surfaces over MAX_ALIASES: the exact map is a join (no
    hint: the inventory is unbounded, AQE picks the algorithm) and
    misses go to the gram join."""
    alias_norm = (
        alias_dict.select(norm_surface(F.col("alias")).alias("nsurf"), "entity_id")
        .groupBy("nsurf").agg(F.min("entity_id").alias("entity_id")))
    exact = surfaces.join(alias_norm, "nsurf", "left")
    misses = exact.filter(F.col("entity_id").isNull()).select("nsurf")
    new_id = F.concat(F.lit("X"), F.substring(F.md5(F.col("nsurf")), 1, 12))
    resolved = _score_misses_distributed(misses, alias_norm).select(
        "nsurf", F.coalesce(F.col("sim_id"), new_id).alias("miss_entity_id"))
    # no forced broadcast: misses are a subset of DISTINCT surfaces,
    # which is unbounded at corpus scale — AQE broadcasts when small
    return (
        exact.join(resolved, "nsurf", "left")
        .select("nsurf",
                F.coalesce("entity_id", "miss_entity_id").alias("entity_id"))
    )


def _graph_links(surfaces: DataFrame, alias_dict: DataFrame,
                 cache_registry: list | None):
    """The graph step's one read of the dictionary: (surf_map, canon),
    surf_map = (nsurf, entity_id, canonical_id) for the distinct
    surfaces and canon = dict_canonical_names(alias_dict).  Within
    MAX_ALIASES the resolver takes the canonical id from canon's
    union-find table; over it the linked surfaces join canon.  Unless
    resolved on the driver, surf_map is cached for a caller that passes
    a cache_registry to release it (the map feeds three joins)."""
    index = _alias_index(alias_dict)
    canon, ctbl = _canonical_names(alias_dict, index)
    if index is None:
        surf_map, local = (
            _link_in_spark(surfaces, alias_dict)
            .join(canon.select("entity_id", "cid"), "entity_id", "left")
            .select("nsurf", "entity_id",
                    F.coalesce("cid", "entity_id").alias("canonical_id"))), False
    else:
        surf_map, local = _in_cap_links(surfaces, index[0],
                                        ctbl.select(["entity_id", "cid"]))
    if cache_registry is not None and not local:
        surf_map = surf_map.cache()
        cache_registry.append(surf_map)
    return surf_map, canon


def link_mentions(mentions: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """mentions (doc_id, sent_id, start, end, type, text) -> + entity_id.

    Thin wrapper: link the DISTINCT normalized surfaces, join the
    surface->entity map back onto the mention stream.
    """
    m = mentions.withColumn("nsurf", norm_surface(F.col("text")))
    surf_map = link_surfaces(m.select("nsurf").distinct(), alias_dict)
    # surf_map is keyed by DISTINCT surfaces (unbounded at scale):
    # leave the join algorithm to AQE rather than forcing a broadcast
    return m.join(surf_map, "nsurf", "left").drop("nsurf")


def same_as_edges(alias_dict: DataFrame) -> DataFrame:
    """Same-as edges for canonicalization: one star per normalized alias
    surface, (the surface's minimum entity id, each other entity on it)
    — k entities give k-1 edges.  (Same-surface ties between mentions
    need no edges: linking is deterministic per surface.)
    Returns (src, dst) with src < dst, distinct.
    """
    a = (alias_dict.select(norm_surface(F.col("alias")).alias("nsurf"), "entity_id")
         .filter(F.col("nsurf").isNotNull()))  # a null alias links nothing
    return (
        a.withColumn("src", F.min("entity_id").over(Window.partitionBy("nsurf")))
        .filter(F.col("src") < F.col("entity_id"))
        .select("src", F.col("entity_id").alias("dst"))
        .distinct()
    )


def dict_canonical_names(alias_dict: DataFrame) -> DataFrame:
    """(entity_id, cid, dict_canonical), one row per dictionary entity:
    its same-as component's minimum entity id and minimum canonical
    name.  Any id outside the dictionary (a minted X-id) is its own
    component."""
    return _canonical_names(alias_dict, _alias_index(alias_dict))[0]


def _canonical_names(alias_dict: DataFrame, index):
    """(dict_canonical_names frame, its Arrow table or None) over
    _alias_index.  In cap: a driver union-find (each entity to its
    surface's minimum id), broadcast-hinted.  Over it: connected
    components, no hint, no table."""
    if index is None:
        comp = cc.connected_components(same_as_edges(alias_dict))
        return (
            alias_dict.groupBy("entity_id").agg(F.min("canonical").alias("canonical"))
            .join(comp.withColumnRenamed("node", "entity_id"), "entity_id", "left")
            .withColumn("cid", F.coalesce("component", "entity_id"))
            .select("entity_id", "cid", F.min("canonical").over(
                Window.partitionBy("cid")).alias("dict_canonical"))
        ), None
    ids, canons, hubs = (index[1][c].to_pylist()
                         for c in ("entity_id", "canonical", "hub"))
    # a null surface or id joins nothing (an equi-join never matches
    # null): such an entity is its own component
    cid = dict(cc._union_find_local(
        (e, e if e is None or h is None else h) for e, h in zip(ids, hubs)))
    names: dict = {}
    for e, c in zip(ids, canons):
        if c is not None:
            names[cid[e]] = min(names.get(cid[e], c), c)
    tbl = pa.table({"entity_id": pa.array(list(cid), pa.string()),
                    "cid": pa.array(list(cid.values()), pa.string()),
                    "dict_canonical": pa.array([names.get(r) for r in cid.values()],
                                               pa.string())})
    return F.broadcast(alias_dict.sparkSession.createDataFrame(
        tbl, "entity_id string, cid string, dict_canonical string")), tbl
