"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All hashing is built on md5 hex substrings cast to bigint so the exact
same arithmetic is expressible in ANSI SQL (DuckDB oracles) — no
engine-specific hash functions cross the parity boundary.  Spark-side
everything is built-in expressions (JVM-side, WholeStageCodegen); no
Python UDFs.  The driver-side pieces are the in-cap Jaccard route's:
the verifier (_scancount, numpy over one Arrow collect of the shingle
table) and lsh_verified_pairs' band check of the verified pairs
(_lsh_collides, hashlib md5 over the same collect).

Scale shapes:
- exact dedup: one hash-aggregate on a 64-bit digest (not raw text);
- Jaccard, routed by the shingle table's row count alone:
  * under MAX_LOCAL_SHINGLES rows: one bounded Arrow collect, then a
    ScanCount probe over a CSR inverted index on the driver — no pair
    record is shuffled; lsh_verified_pairs then keeps the verified
    pairs that share an LSH band bucket, hashed for their keys only;
  * over it: one stop-shingle guard, one size table and one verifier
    (_guarded_sized -> _verify); pairs come from posting lists
    (jaccard_pairs) or LSH candidates (lsh_verified_pairs);
- MinHash/LSH: signatures are per-row aggregates (no shuffle), banding
  joins only collide candidates — the 100TB-safe near-dup pattern;
- SimHash: per-row bit aggregate, one groupBy on the 16-bit key.
"""

from __future__ import annotations

from hashlib import md5

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from phonlp_spark.ops.fanout import fan_out, fan_width

# Default sketch sizes — sized for the sandbox fixtures.  All operators
# take these as ARGUMENTS so a 100-TB corpus runs e.g. 128 minhashes /
# 16 bands and 64 simhash bits without code changes; the oracle-SQL
# generators in __spark_entry__.py parameterize identically.
N_MINHASH = 8
LSH_BAND = 2  # hashes per band (8/2 = 4 bands)
SIMHASH_BITS = 16

# Jaccard route: a shingle table (token_shingles rows, before the
# stop-shingle guard) with fewer rows than this is verified on the
# driver by _scancount; a bounded collect that fills the cap sends the
# query to the distributed posting-list path.  Read at call time, so
# tests pick the distributed route by setting it to 0 (no collect then).
# Sizing, warm, local[4] on a 4-core host (collect + probe vs the
# distributed plan; driver Python RSS):
# - sf0.1, 260,388 rows, 1.27M pair emissions: 0.8 + 0.2 s vs 3.3 s;
# - 20,000 generated docs, 1.06M rows, 8.8M emissions: 4.4 + 1.2 s vs
#   12.8 s; 0.7 GB;
# - 50,000 docs, 2.65M rows, 55M emissions (the sf1.0 shape): 9.5 +
#   4.7 s vs 64 s; 0.95 GB.  Faster on 4 cores, but the driver does
#   not grow with the cluster and the distributed plan does, so that
#   shape stays distributed.
# lsh_verified_pairs' worst case at the cap: 10,000 docs each with a
# near-copy (950,000 rows, 490,000 distinct shingles, every key in a
# verified pair, so every key's signature is hashed on the driver):
# warm 6.8-8.5 s vs 7.0-9.5 s for the candidate plan it replaces
# (ScanCount 0.3 s, band check 4.9 s, mostly 3.9M md5 calls); driver
# Python RSS 383 vs 349 MB, JVM peak 1.67-1.80 vs 1.94-1.99 GB.
MAX_LOCAL_SHINGLES = 1_000_000

# pair emissions counted per probe block: bounds the driver's scratch
# arrays (~4 int64 arrays of this length) whatever the corpus
_PROBE_BLOCK = 1 << 22


def _h64(col: Column) -> Column:
    """Portable 60-bit hash: bigint from the first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One survivor (min key) per distinct text; group sizes included."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("digest"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
        .select("keep_id", "n_dupes")
    )


def token_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(key, shingle) distinct token n-grams, built JVM-side."""
    toks = F.split(F.col("text"), " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    return (
        docs.filter(F.size(toks) >= n)
        .select(F.col("doc_id").alias("key"), F.explode(F.array_distinct(sh)).alias("shingle"))
    )


def _shingles_wide(docs: DataFrame, n: int) -> DataFrame:
    """Canonical fanned-out shingle table: round-robin the (narrow) doc
    scan so shingling itself parallelizes, then ONE hash exchange on
    shingle.  Every consumer of the returned frame that needs the
    shingle table (hot-shingle scan, posting lists, sizes, signature
    partial-aggregates) hangs off the SAME exchange, so Spark's
    exchange reuse computes scan + shingling once per query instead of
    once per consumer, and every downstream stage starts at cluster
    width instead of the scan stage's 1-2 tasks (guide §2.4)."""
    w = fan_width(docs)
    sh = token_shingles(fan_out(docs), n)
    return sh.repartition(w, "shingle")


def _guarded_sized(sh: DataFrame, max_shingle_freq: int) -> DataFrame:
    """(key, shingle, sz): drops shingles in > max_shingle_freq docs
    (stop-shingle skew guard) and attaches each doc's post-guard set
    size, so pairs carry (na, nb) and never join sizes back (guide
    §2.4: a join-back invites broadcasting the huge pair table).  sz is
    int to save 8 B/row across the pair shuffle (guide §2.3)."""
    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")) \
            .filter(F.col("df") > max_shingle_freq).select("shingle")
    shf = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = shf.groupBy("key").agg(F.count(F.lit(1)).alias("sz"))
    return shf.join(sizes.withColumn("sz", F.col("sz").cast("int")), "key")


def _verify(pairs: DataFrame, min_pct: int) -> DataFrame:
    """(a, b, na, nb), one row per shared shingle -> (a, b, common, na,
    nb) where 100*common >= min_pct*(na+nb-common): Jaccard >=
    min_pct/100 in integers only, so oracles hash identically."""
    return (
        pairs.groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
        .select("a", "b", "common",
                F.col("na").cast("bigint").alias("na"),
                F.col("nb").cast("bigint").alias("nb"))
        .filter(F.lit(100) * F.col("common")
                >= F.lit(min_pct) * (F.col("na") + F.col("nb") - F.col("common")))
    )


def _scancount(tbl: pa.Table, min_pct: int, max_shingle_freq: int) -> pa.Table:
    """(key, shingle) rows -> the (a, b, common, na, nb) rows that
    _guarded_sized + _verify give for the same rows, on the driver.

    Doc ranks follow Spark's ascending key order, so rank order is the
    a < b order of any key type.  The stop-shingle guard counts every
    row, as the hot-shingle aggregate does; null keys are then dropped,
    as the size join drops them; sizes count what is left.  The index is
    CSR: rows sorted by (shingle, doc rank), so each posting list is
    contiguous and ascending and a row's partners are the postings after
    it.  ScanCount probes doc blocks of at most _PROBE_BLOCK emissions
    (one doc may exceed it), counting each block's (a, b) emissions with
    one sort, so no block's counts are split and driver memory does not
    grow with the total emission count.
    """
    key = tbl.column("key").combine_chunks()
    ranked = pc.unique(key).drop_null().sort()
    doc = pc.index_in(key, value_set=ranked).fill_null(-1).to_numpy().astype(np.int64)
    shingle = tbl.column("shingle").combine_chunks()
    sid = pc.dictionary_encode(shingle).indices.to_numpy()
    keep = (np.bincount(sid)[sid] <= max_shingle_freq) & (doc >= 0)
    doc, sid = doc[keep], sid[keep]
    nd = len(ranked)
    size = np.bincount(doc, minlength=nd)

    order = np.lexsort((doc, sid))
    post = doc[order]
    list_end = np.cumsum(np.bincount(sid))[sid[order]]
    n_emit = list_end - np.arange(len(post)) - 1
    # index positions grouped by doc rank; doc d's positions are
    # by_doc[row_off[d]:row_off[d + 1]], its emissions total
    # emit_off[d + 1] - emit_off[d]
    by_doc = np.argsort(post, kind="stable")
    row_off = np.concatenate(([0], np.cumsum(size)))
    emit_off = np.concatenate(([0], np.cumsum(n_emit[by_doc])))[row_off]

    parts = [np.empty((3, 0), np.int64)]
    d0 = 0
    while d0 < nd:
        d1 = max(int(np.searchsorted(emit_off, emit_off[d0] + _PROBE_BLOCK,
                                     "right")) - 1, d0 + 1)
        pos = by_doc[row_off[d0]:row_off[d1]]
        lens = n_emit[pos]
        total = int(emit_off[d1] - emit_off[d0])
        if total:
            partner = (np.repeat(pos + 1 - (np.cumsum(lens) - lens), lens)
                       + np.arange(total))
            pk = np.repeat(post[pos] - d0, lens) * nd + post[partner]
            pk.sort()
            head = np.flatnonzero(np.concatenate(([True], pk[1:] != pk[:-1])))
            common = np.diff(np.append(head, total))
            a, b = np.divmod(pk[head], nd)
            a += d0
            ok = 100 * common >= min_pct * (size[a] + size[b] - common)
            parts.append(np.stack([a, b, common])[:, ok])
        d0 = d1
    a, b, common = np.concatenate(parts, axis=1)
    return pa.table({"a": ranked.take(a), "b": ranked.take(b),
                     "common": common, "na": size[a], "nb": size[b]})


def _lsh_collides(tbl: pa.Table, rows: pa.Table, n_minhash: int,
                  band: int) -> np.ndarray:
    """Per (a, b) row of rows: do a and b share an LSH band bucket?

    The arithmetic of _signatures_from_shingles + lsh_pairs_from_signatures
    (and the oracle SQL) in Python, over the (key, shingle) rows of tbl
    (UNGUARDED, as the signatures are) for the keys in rows only:
    mh_j = min over the key's shingles of int(md5(f"{j}:{shingle}")[:15],
    16), bucket_b = md5 of band b's mh values joined by "_".  Each
    distinct shingle is hashed once."""
    keys = pc.unique(pa.concat_arrays([rows.column("a").combine_chunks(),
                                       rows.column("b").combine_chunks()]))
    sub = tbl.filter(pc.is_in(tbl.column("key"), value_set=keys))
    kid = pc.index_in(sub.column("key"), value_set=keys).to_numpy()
    enc = pc.dictionary_encode(sub.column("shingle").combine_chunks())
    shingles = [s.encode() for s in enc.dictionary.to_pylist()]
    order = np.argsort(kid, kind="stable")
    sid = enc.indices.to_numpy()[order]
    starts = np.flatnonzero(np.diff(kid[order], prepend=-1))
    sig = np.empty((len(keys), n_minhash), np.int64)
    for j in range(n_minhash):
        salt = f"{j}:".encode()
        # the first 15 hex digits are the top 60 bits of the digest
        mh = np.frombuffer(b"".join([md5(salt + s).digest()[:8]
                                     for s in shingles]), ">u8") >> 4
        sig[:, j] = np.minimum.reduceat(mh[sid], starts)
    buckets = np.array(
        [[md5("_".join(map(str, s[b * band:(b + 1) * band])).encode()).digest()
          for b in range(n_minhash // band)] for s in sig.tolist()])
    a = pc.index_in(rows.column("a"), value_set=keys).to_numpy()
    b = pc.index_in(rows.column("b"), value_set=keys).to_numpy()
    return (buckets[a] == buckets[b]).any(axis=1)


def _local_pairs(docs: DataFrame, n: int, min_pct: int, max_shingle_freq: int,
                 sketch: tuple[int, int] | None = None) -> DataFrame | None:
    """jaccard_pairs' rows and schema built by _scancount from one
    bounded Arrow collect of the shingle table, or None when the
    collect fills MAX_LOCAL_SHINGLES (the distributed route's case).
    With sketch = (n_minhash, band) only the rows whose pair shares an
    LSH band bucket are kept (_lsh_collides): lsh_verified_pairs' rows."""
    sh = token_shingles(fan_out(docs), n)
    tbl = sh.limit(MAX_LOCAL_SHINGLES).toArrow()
    if tbl.num_rows >= MAX_LOCAL_SHINGLES:
        return None
    rows = _scancount(tbl, min_pct, max_shingle_freq)
    if sketch is not None and rows.num_rows:
        rows = rows.filter(pa.array(_lsh_collides(tbl, rows, *sketch)))
    key_type = sh.schema["key"].dataType
    schema = T.StructType(
        [T.StructField("a", key_type), T.StructField("b", key_type)]
        + [T.StructField(c, T.LongType(), False) for c in ("common", "na", "nb")])
    return docs.sparkSession.createDataFrame(rows, schema)


def jaccard_pairs(docs: DataFrame, n: int = 3, min_pct: int = 5,
                  max_shingle_freq: int = 1000) -> DataFrame:
    """All (a, b, common, na, nb) with n-gram Jaccard >= min_pct/100
    (see _verify), sizes counted after the stop-shingle guard.

    Two routes, the same rows and schema, chosen by the shingle table's
    row count alone (MAX_LOCAL_SHINGLES):
    - in cap: one bounded Arrow collect of the shingle table, the guard,
      sizes and a ScanCount probe in numpy on the driver (_scancount),
      and the few verified rows come back as an Arrow-built frame — no
      pair record is ever shuffled;
    - over the cap, plan shape (guide §2.4/§2.5): one shared shingle
      exchange; the stop-shingle guard is a broadcast anti join applied
      BEFORE posting lists are collected (bounding every list at
      max_shingle_freq); the intersection counts come from per-shingle
      posting lists expanded to (a, b) pairs JVM-side, so the quadratic
      pair stream runs at full cluster width — a shingle self-join runs
      it on the scan stage's 1-2 tasks (281 s at sf1.0;
      plans/r07/dedup_jaccard_before.txt).
    """
    local = _local_pairs(docs, n, min_pct, max_shingle_freq)
    if local is not None:
        return local
    shs = _guarded_sized(_shingles_wide(docs, n), max_shingle_freq)
    # per-shingle posting list, sorted so expansion emits a < b pairs;
    # keys are distinct within a shingle group (token_shingles emits
    # distinct shingles per doc), so the key order is strictly ascending
    posts = shs.groupBy("shingle").agg(
        F.sort_array(F.collect_list(F.struct("key", "sz"))).alias("ks"))
    pairs = (
        posts.filter(F.size("ks") >= 2)
        # one row per posting, then one per later posting: no row value
        # holds more than one posting list
        .select("ks", F.posexplode("ks").alias("i", "x"))
        .select("x", F.explode(F.expr("slice(ks, i + 2, size(ks))")).alias("y"))
        .select(F.col("x.key").alias("a"), F.col("y.key").alias("b"),
                F.col("x.sz").alias("na"), F.col("y.sz").alias("nb"))
        # explicit exchange BEFORE the aggregate: pair emissions are
        # ~90% unique (a, b) groups (measured 114M distinct of 127M at
        # sf1.0), so a map-side partial aggregate is a wasted full hash
        # pass over the stream.  Partitioning by (a, b) first turns the
        # aggregate into one complete pass (HashPartitioning on a
        # subset of the grouping keys satisfies the clustering), and 4x
        # width keeps each task's hash map cache-friendly (measured
        # 19.6 -> 14.8 s at sf1.0).
        .repartition(4 * fan_width(docs), "a", "b")
    )
    return _verify(pairs, min_pct)


def _signatures_from_shingles(sh: DataFrame, n_minhash: int) -> DataFrame:
    aggs = [
        F.min(_h64(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh{j}")
        for j in range(n_minhash)
    ]
    return sh.groupBy("key").agg(*aggs)


def minhash_signatures(docs: DataFrame, n: int = 3,
                       n_minhash: int = N_MINHASH) -> DataFrame:
    """(key, mh0..mh{N-1}): per-doc min over salted shingle hashes.

    Docs are fanned out before shingling so the n_minhash md5
    evaluations per shingle row (the dominant cost) run in the partial
    aggregate at cluster width, not inside the 1-2 scan tasks."""
    return _signatures_from_shingles(
        token_shingles(fan_out(docs), n), n_minhash)


def lsh_pairs_from_signatures(sig: DataFrame, n_minhash: int,
                              band: int) -> DataFrame:
    """Banding candidates from a precomputed signature table (columns
    key, mh0..mh{>=n_minhash-1}); only mh0..mh{n_minhash-1} are used.

    Because _h64's salt is the hash index itself, a narrower sketch's
    signatures are EXACTLY the first n_minhash columns of a wider
    sketch over the same shingles — so parameter variants can share one
    signature aggregate (dedup_lsh_pairs runs 8/2 and 32/4 over a
    single 32-hash table: 32 instead of 40 md5 evaluations per shingle
    row, one partial aggregate instead of two).

    Banding is ONE posexplode projection: a per-band select + union
    would recompute the signature aggregate once per band; the single
    subtree is also what lets the self-join's two identical exchanges
    share via ReusedExchange."""
    bucket_cols = [
        F.md5(F.concat_ws("_", *[F.col(f"mh{b * band + j}").cast("string")
                                 for j in range(band)]))
        for b in range(n_minhash // band)
    ]
    buck = sig.select(
        "key", F.posexplode(F.array(*bucket_cols)).alias("band", "bucket"))
    return (
        buck.alias("l").join(buck.alias("r"), ["band", "bucket"])
        .filter(F.col("l.key") < F.col("r.key"))
        .select(F.col("l.key").alias("a"), F.col("r.key").alias("b"))
        .distinct()
    )


def lsh_candidate_pairs(docs: DataFrame, n: int = 3,
                        n_minhash: int = N_MINHASH,
                        band: int = LSH_BAND) -> DataFrame:
    """Near-dup candidates: docs sharing any LSH band bucket."""
    sh = token_shingles(fan_out(docs), n)
    return lsh_pairs_from_signatures(
        _signatures_from_shingles(sh, n_minhash), n_minhash, band)


def lsh_verified_pairs(docs: DataFrame, n: int = 3, min_pct: int = 5,
                       n_minhash: int = N_MINHASH, band: int = LSH_BAND,
                       max_shingle_freq: int = 1000) -> DataFrame:
    """The production near-dup composition: LSH banding GENERATES
    candidates, exact n-gram Jaccard VERIFIES only those pairs.

    jaccard_pairs expands every posting list into pairs — quadratic
    within each shingle group, not a candidate generator at 100 TB.
    Here only LSH candidate pairs (|cand| ~ linear in corpus for
    bounded duplication) join the same guarded, sized shingle table
    and pass the same _verify, so output rows are a subset of
    jaccard_pairs (missing only pairs LSH failed to collide — measured
    by the dedup family's recall story, same as ann_recall for ANN).
    Signatures come from the UNGUARDED shingles, as in the oracle SQL.
    In cap (see jaccard_pairs) the order flips: verify first, then
    collide.  The driver-verified rows are kept where their two keys
    share a band bucket, computed on the driver from the same collect
    for the keys of verified pairs only (_lsh_collides); no MinHash
    aggregate, banding join or semi-join runs, and the rows equal the
    distributed plan's.  Over the cap every consumer shares one shingle
    exchange (see _shingles_wide).
    """
    local = _local_pairs(docs, n, min_pct, max_shingle_freq,
                         (n_minhash, band))
    if local is not None:
        return local
    sh = _shingles_wide(docs, n)
    cand = lsh_pairs_from_signatures(
        _signatures_from_shingles(sh, n_minhash), n_minhash, band)
    shs = _guarded_sized(sh, max_shingle_freq)
    pairs = (
        cand.join(shs.select(F.col("key").alias("a"), "shingle",
                             F.col("sz").alias("na")), "a")
        .join(shs.select(F.col("key").alias("b"), "shingle",
                         F.col("sz").alias("nb")), ["b", "shingle"])
    )
    return _verify(pairs, min_pct)


def simhash_pairs(docs: DataFrame, max_hamming: int = 3,
                  n_bands: int = 4, bits: int = SIMHASH_BITS,
                  max_bucket_size: int | None = 100_000) -> DataFrame:
    """(a, b, hamming): near-dup pairs under SimHash Hamming distance.

    Candidates come from banding the fingerprint into n_bands equal
    chunks and joining on (band, chunk value) — by pigeonhole, any pair
    within max_hamming <= n_bands - 1 bit flips shares at least one
    band exactly, so candidate generation is COMPLETE for the default
    parameters (3 flips cannot touch all 4 bands).  Exact popcount-of-
    xor verification then filters; everything is integer codegen, never
    a cross product.

    ``max_bucket_size``: (band, chunk) groups holding more rows are
    dropped before the self-join (hot-bucket guard — a corpus of
    near-identical documents collapses into one chunk value and would
    go quadratic there; same pattern as jaccard_pairs' stop-shingles).
    A dropped band costs candidates only for pairs whose OTHER shared
    bands are also hot, so the pigeonhole completeness claim degrades
    gracefully; the oracle SQL mirrors the cap.
    """
    assert bits % n_bands == 0, "bands must tile the fingerprint"
    assert max_hamming <= n_bands - 1, (
        "completeness needs max_hamming <= n_bands - 1 (pigeonhole)")
    width = bits // n_bands
    sig = simhash(docs, bits)
    # one posexplode projection instead of an n_bands-way union: the
    # union recomputed the signature aggregate once per band branch
    chunks = [
        F.shiftright(F.col("simhash"), b * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        for b in range(n_bands)
    ]
    bandr = sig.select(
        "key", F.posexplode(F.array(*chunks)).alias("band", "chunk"),
        "simhash")
    if max_bucket_size is not None:
        from phonlp_spark.ops.similarity import drop_hot_buckets
        bandr = drop_hot_buckets(bandr, ["band", "chunk"], max_bucket_size)
    cand = (
        bandr.alias("l").join(bandr.alias("r"), ["band", "chunk"])
        .filter(F.col("l.key") < F.col("r.key"))
        .select(F.col("l.key").alias("a"), F.col("r.key").alias("b"),
                F.col("l.simhash").alias("sa"), F.col("r.simhash").alias("sb"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sa ^ sb)").cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(key, simhash): sign-aggregated token fingerprint over `bits` bits."""
    tok = fan_out(docs).select(F.col("doc_id").alias("key"),
                               F.explode(F.split(F.col("text"), " ")).alias("tok"))
    h = _h64(F.col("tok"))
    bit_sums = [
        F.sum(F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("key").agg(*bit_sums)
    sim = F.lit(0).cast("bigint")
    for b in range(bits):
        sim = sim + F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(0)
    return agg.select("key", sim.alias("simhash"))
