"""Posting-list compression: delta + varbyte shards.

North-rule requirement: posting-list construction/merge/compression as
grouped DataFrame aggregations with explicit skew handling. The
reference stores postings as JSON blobs per term
(/root/reference/indexer/indexer.go:350-408); we store columnar shards:

    posting_shards(term string, field string,
                   shard int,                 -- partition directory
                   salt int, df long,
                   max_weight double,         -- skip metadata: NULL on
                   top_doc_keys array<long>,  -- sample-complete blocks
                   top_weights array<double>, -- (df <= BLOCK_SAMPLE_N),
                   range_bounds array<long>,  -- rebuilt from doc_ids +
                   range_maxw array<double>,  -- weights by term_block_meta
                   doc_ids binary,    -- delta+varbyte over dense doc keys
                   tfs binary,        -- varbyte
                   weights binary,    -- big-endian float64 impact weights
                   positions binary,  -- varbyte, per-doc position deltas
                   pos_lens binary)   -- varbyte, positions-per-doc

Layout: ``shard = term_hash60 % n_shards`` — written with
``partitionBy("shard")`` so a query's ``term IN (...)`` prunes to
|terms| shard directories (partition pruning at the scan, the Spark
analog of the reference's per-term point Gets).

Skew: a groupBy(term).collect_list over 10^12 files puts a hot term's
whole posting list through one reducer. Hot terms (df above
``salt_df_threshold`` fraction of docs) are salted into ``n_salts``
sub-groups — each sub-group compresses independently into its own row
(a posting-list *block*, exactly what block-max WAND wants). Since
round 4 the salt is the WEIGHT-QUANTILE bucket (impact-ordered blocks:
maxima decay across a term's blocks, so the skip planner can exclude
the low-impact tail), with a per-group fallback to doc-hash salting
when the weight distribution is too tied for distinct quantile bounds.
Cold terms take the single-group path. Since round 5 the bound is
ABSOLUTE, not relative: any group whose expected block exceeds
``block_target_postings`` (a hot quantile bucket at ~df/n_salts, or a
cold group near the hot threshold) is further doc-hash-split into
ceil(size/target) sub-salts — so no single task materializes an
unbounded group at ANY corpus size, which df/n_salts alone cannot
guarantee. This is the explicit two-phase pattern the north rule
demands; AQE skew-join handles residual runtime skew.

Encoding is numpy-vectorized: groups form JVM-side (groupBy +
collect_list partial aggregation — Python never pays a per-group
round-trip) and a mapInPandas encodes hundreds of blocks per Arrow
batch with no per-posting Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT, EngineConfig
from ..functions.hashing import term_hash60_col
from ..functions.smalldf import isin_col

# ---------------------------------------------------------------------------
# numpy varbyte codec
# ---------------------------------------------------------------------------

def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a non-negative int64 array (vectorized).

    Little-endian 7-bit groups, high bit set on the LAST byte of each
    value (classic index-compression varbyte).
    """
    if len(values) == 0:
        return b""
    v = np.asarray(values, dtype=np.uint64)
    # byte lengths: number of 7-bit groups
    nbits = np.zeros(len(v), dtype=np.int64)
    tmp = v.copy()
    while True:
        mask = tmp > 0
        if not mask.any():
            break
        nbits[mask] += 1
        tmp >>= np.uint64(7)
    nbits[nbits == 0] = 1
    total = int(nbits.sum())
    out = np.zeros(total, dtype=np.uint8)
    # positions of each value's first byte
    starts = np.concatenate(([0], np.cumsum(nbits)[:-1]))
    ends = starts + nbits - 1
    # fill bytes group by group (max 10 groups for 64-bit)
    max_groups = int(nbits.max())
    tmp = v.copy()
    for g in range(max_groups):
        sel = nbits > g
        out[starts[sel] + g] = (tmp[sel] & np.uint64(0x7F)).astype(np.uint8)
        tmp = tmp >> np.uint64(7)
    out[ends] |= 0x80
    return out.tobytes()


def vb_decode(buf: bytes) -> np.ndarray:
    """Decode varbyte bytes -> int64 array (vectorized)."""
    if not buf:
        return np.zeros(0, dtype=np.int64)
    b = np.frombuffer(buf, dtype=np.uint8)
    terminators = (b & 0x80) != 0
    ends = np.flatnonzero(terminators)
    starts = np.concatenate(([0], ends[:-1] + 1))
    payload = (b & 0x7F).astype(np.uint64)
    values = np.zeros(len(ends), dtype=np.uint64)
    lengths = ends - starts + 1
    max_len = int(lengths.max())
    for g in range(max_len):
        sel = lengths > g
        values[sel] |= payload[starts[sel] + g] << np.uint64(7 * g)
    return values.astype(np.int64)


def vb_nbytes(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (7-bit groups) — lets a batch-level
    vb_encode over concatenated blocks be split back into per-block byte
    ranges without re-encoding."""
    v = np.asarray(values, dtype=np.uint64)
    nb = np.ones(len(v), dtype=np.int64)
    bound = np.uint64(1 << 7)
    for _ in range(9):
        nb += v >= bound
        if bound >= np.uint64(1 << 57):
            break
        bound = bound << np.uint64(7)
    return nb


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    d = np.diff(np.asarray(sorted_vals, dtype=np.int64), prepend=0)
    return d


def delta_decode(deltas: np.ndarray) -> np.ndarray:
    return np.cumsum(deltas)


# ---------------------------------------------------------------------------
# shard build
# ---------------------------------------------------------------------------

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("salt", T.IntegerType()),
        T.StructField("df", T.LongType()),
        # skip metadata (max_weight through range_maxw) is stored only
        # on blocks with df > BLOCK_SAMPLE_N. On a sample-complete block
        # it would be a reordered copy of the block's own keys and
        # weights, so those rows hold NULL in all five columns and
        # term_block_meta rebuilds them from doc_ids + weights.
        T.StructField("max_weight", T.DoubleType()),
        # block-max metadata: the block's top-N (doc_key, weight) sample,
        # readable without touching the varbyte payloads (parquet column
        # pruning). WAND's skip planner sums these partials per doc to get
        # an exact LOWER bound on the k-th best score, then decodes only
        # blocks whose max_weight-based upper bound can still beat it.
        T.StructField("top_doc_keys", T.ArrayType(T.LongType())),
        T.StructField("top_weights", T.ArrayType(T.DoubleType())),
        # doc-range-aligned sub-maxima: equi-depth split of the block's
        # doc_key-sorted postings into RANGE_SUB_N chunks; bounds[i] is
        # chunk i's first key (bounds[-1] the block's last key) and
        # range_maxw[i] its max weight. Lets the skip planner bound a
        # block's docs by the OTHER terms' maxima restricted to the
        # overlapping key range instead of their global maxima — the
        # difference between "WAND exists" and "WAND pays off on
        # multi-term queries" (a hot term's global max is one outlier
        # posting; its max within 1/16th of the doc space usually isn't).
        T.StructField("range_bounds", T.ArrayType(T.LongType())),
        T.StructField("range_maxw", T.ArrayType(T.DoubleType())),
        T.StructField("doc_ids", T.BinaryType()),
        T.StructField("tfs", T.BinaryType()),
        T.StructField("weights", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
        T.StructField("pos_lens", T.BinaryType()),
    ]
)

# per-block sample size for the skip planner's threshold estimate: big
# enough that the top blocks' samples alone cover k=50 with near-true
# k-th weights (tight threshold -> more skippable blocks), small enough
# that block metadata stays ~1 KB (32 longs + 32 doubles). Raised 8->32
# in r4 alongside impact-ordered blocks: with decaying block maxima the
# threshold quality directly bounds how much of the tail gets skipped.
BLOCK_SAMPLE_N = 32

# sub-ranges per block for the doc-range-aligned maxima: 16 keeps block
# metadata small (~17 longs + 16 doubles) while splitting the doc space
# finely enough that a hot term's per-range max sits near its typical
# high weight, not its single global outlier
RANGE_SUB_N = 16

SKIP_META_COLS = [
    "max_weight", "top_doc_keys", "top_weights", "range_bounds", "range_maxw",
]


def block_skip_meta(keys: np.ndarray, weights: np.ndarray) -> dict:
    """One block's skip metadata from its doc_key-sorted keys and their
    weights: the block max, the top-BLOCK_SAMPLE_N sample in stable
    ``-weight`` order, and ``min(n, RANGE_SUB_N)`` equi-depth sub-ranges
    (each chunk's first key, then the block's last key; each chunk's
    max weight). The encoder stores it for blocks with df >
    BLOCK_SAMPLE_N; term_block_meta rebuilds it for the others, so both
    sides use this one function."""
    n = len(keys)
    top = np.argsort(np.negative(weights), kind="stable")[:BLOCK_SAMPLE_N]
    m = min(n, RANGE_SUB_N)
    sub = (np.arange(m, dtype=np.int64) * n) // m
    return {
        "max_weight": float(weights.max()),
        "top_doc_keys": keys[top].tolist(),
        "top_weights": weights[top].tolist(),
        "range_bounds": keys[sub].tolist() + [int(keys[-1])],
        "range_maxw": np.maximum.reduceat(weights, sub).tolist(),
    }


def _encode_blocks(batch_iter):
    """Arrow batches of pre-grouped block rows (term, field, shard, salt,
    doc_keys[], tfs_arr[], weights_arr[], pos_arr[][]) -> compressed
    block rows.

    Group formation happens JVM-side (groupBy + collect_list partial
    aggregation), so Python sees ONE row per block and encodes hundreds
    of blocks per Arrow batch. The previous shape — applyInPandas with
    one Python round-trip per (term, field, salt) group — was
    group-COUNT-bound: a realistic 20k-term vocabulary makes ~40k tiny
    groups and the per-group IPC dwarfed the actual encoding (measured
    54s vs ~10s for the same postings at sf0.1).

    ``doc_key`` is the dense doc_idx from build_doc_dim (collision-free,
    tiny deltas). Keys are delta+varbyte packed in sorted order;
    positions are per-doc delta streams with a parallel lengths stream.
    """
    cols = [f.name for f in SHARD_SCHEMA.fields]
    for whole in batch_iter:
        if len(whole) == 0:
            yield pd.DataFrame({c: [] for c in cols})
            continue
        # bound PEAK memory, not just batch row count: batch-level
        # assembly holds concatenated + sorted + encoded copies of a
        # chunk simultaneously, so slice the Arrow batch into chunks of
        # at most ~1M postings (a handful of working arrays each tens of
        # MB) — without this a 10k-row batch of hot blocks at larger
        # corpora OOMed the 8g local heap where the per-block loop fit
        whole_lens = np.fromiter(
            (len(x) for x in whole["doc_keys"]), dtype=np.int64,
            count=len(whole),
        )
        cum = np.cumsum(whole_lens)
        chunk_edges = [0]
        budget = 1 << 20
        next_cut = budget
        for i, c in enumerate(cum):
            if c >= next_cut:
                chunk_edges.append(i + 1)
                next_cut = c + budget
        if chunk_edges[-1] != len(whole):
            chunk_edges.append(len(whole))
        for lo, hi in zip(chunk_edges[:-1], chunk_edges[1:]):
            yield _encode_block_frame(
                whole.iloc[lo:hi].reset_index(drop=True), cols
            )


def _encode_block_frame(pdf, cols):
        nb = len(pdf)
        # ---- batch-level assembly (round 6): the former per-block loop
        # paid ~0.4 ms of fixed numpy-call + row-tuple overhead per
        # block regardless of block size — at 72k blocks that dwarfed
        # the actual codec work. All sorting/encoding now runs ONCE over
        # the concatenated batch; per-block work is reduced to cheap
        # slice bookkeeping. Encoded bytes are identical (varbyte is
        # per-value; block boundaries are respected via reduceat /
        # explicit delta restarts at block starts).
        key_cells = [np.asarray(x, dtype=np.int64) for x in pdf["doc_keys"]]
        lens = np.fromiter((len(x) for x in key_cells), dtype=np.int64, count=nb)
        total = int(lens.sum())
        starts = np.cumsum(lens) - lens
        keys = np.concatenate(key_cells)
        tfs = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["tfs_arr"]]
        )
        weights = np.concatenate(
            [np.asarray(x, dtype=np.float64) for x in pdf["weights_arr"]]
        )
        block_ids = np.repeat(np.arange(nb, dtype=np.int64), lens)
        # per-block stable key sort in one global lexsort
        order = np.lexsort((keys, block_ids))
        keys = keys[order]
        tfs = tfs[order]
        weights = weights[order]
        # positions: reorder each block's per-posting lists by its slice
        # of the global permutation, then flatten once
        pos_lens = np.empty(total, dtype=np.int64)
        flat_parts = []
        for b, cell in enumerate(pdf["pos_arr"]):
            n = int(lens[b])
            s = int(starts[b])
            local = order[s:s + n] - s
            cell = np.asarray(cell, dtype=object)[local]
            pl = np.fromiter((len(p) for p in cell), dtype=np.int64, count=n)
            pos_lens[s:s + n] = pl
            if pl.sum():
                flat_parts.append(
                    np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in cell if len(p)]
                    )
                )
        flat = (
            np.concatenate(flat_parts)
            if flat_parts
            else np.zeros(0, dtype=np.int64)
        )
        # position deltas restart at every posting start (block starts
        # are posting starts, so block boundaries restart too)
        deltas = np.diff(flat, prepend=0)
        p_starts = np.cumsum(pos_lens) - pos_lens
        nz = p_starts[pos_lens > 0]
        deltas[nz] = flat[nz]
        # doc-key deltas restart at block starts
        kd = np.diff(keys, prepend=0)
        kd[starts] = keys[starts]
        # one vb_encode per stream over the whole batch; per-block byte
        # ranges from the per-value byte counts
        key_bytes = vb_encode(kd)
        key_cuts = np.concatenate(
            ([0], np.cumsum(np.add.reduceat(vb_nbytes(kd), starts)))
        )
        tf_bytes = vb_encode(tfs)
        tf_cuts = np.concatenate(
            ([0], np.cumsum(np.add.reduceat(vb_nbytes(tfs), starts)))
        )
        w_bytes = weights.astype(">f8").tobytes()
        pl_bytes = vb_encode(pos_lens)
        pl_cuts = np.concatenate(
            ([0], np.cumsum(np.add.reduceat(vb_nbytes(pos_lens), starts)))
        )
        # per-block position-VALUE counts -> value-index block starts
        pv_counts = np.add.reduceat(pos_lens, starts)
        pv_starts = np.cumsum(pv_counts) - pv_counts
        pos_bytes = vb_encode(deltas)
        if len(deltas):
            d_nb = np.cumsum(vb_nbytes(deltas))
            # byte offset where each block's positions begin/end
            pos_cuts = np.concatenate(
                ([0], np.where(pv_counts > 0, d_nb[
                    np.minimum(pv_starts + pv_counts, len(deltas)) - 1
                ], 0))
            )
            # blocks with zero positions inherit the previous cumulative
            # cut so their slice is empty
            pos_ends = np.maximum.accumulate(pos_cuts)
        else:
            pos_ends = np.zeros(nb + 1, dtype=np.int64)
        out = {
            "term": pdf["term"].to_numpy(),
            "field": pdf["field"].to_numpy(),
            "shard": pdf["shard"].astype("int32").to_numpy(),
            "salt": pdf["salt"].astype("int32").to_numpy(),
            "df": lens,
        }
        # skip metadata only where it is not the block itself: a
        # sample-complete block (df <= BLOCK_SAMPLE_N) keeps NULLs
        skip = {c: np.full(nb, None, dtype=object) for c in SKIP_META_COLS}
        for b in np.flatnonzero(lens > BLOCK_SAMPLE_N):
            s, e = int(starts[b]), int(starts[b] + lens[b])
            for c, v in block_skip_meta(keys[s:e], weights[s:e]).items():
                skip[c][b] = v
        out.update(skip)
        dib = np.empty(nb, dtype=object)
        tfb = np.empty(nb, dtype=object)
        wb = np.empty(nb, dtype=object)
        pb = np.empty(nb, dtype=object)
        plb = np.empty(nb, dtype=object)
        kmv = memoryview(key_bytes)
        tmv = memoryview(tf_bytes)
        wmv = memoryview(w_bytes)
        pmv = memoryview(pos_bytes)
        plmv = memoryview(pl_bytes)
        for b in range(nb):
            s = int(starts[b])
            n = int(lens[b])
            dib[b] = bytes(kmv[key_cuts[b]:key_cuts[b + 1]])
            tfb[b] = bytes(tmv[tf_cuts[b]:tf_cuts[b + 1]])
            wb[b] = bytes(wmv[8 * s:8 * (s + n)])
            pb[b] = bytes(pmv[pos_ends[b]:pos_ends[b + 1]])
            plb[b] = bytes(plmv[pl_cuts[b]:pl_cuts[b + 1]])
        out["doc_ids"] = dib
        out["tfs"] = tfb
        out["weights"] = wb
        out["positions"] = pb
        out["pos_lens"] = plb
        return pd.DataFrame(out, columns=cols)


def build_posting_shards(
    postings: DataFrame,
    n_docs: int,
    cfg: EngineConfig = DEFAULT,
    term_stats: DataFrame | None = None,
    doc_dim: DataFrame | None = None,
    weight_col: str = "weight",
) -> DataFrame:
    """postings(term, field, doc_id, tf, positions, weight) -> compressed
    block rows, one per (term, field, salt).

    ``weight_col`` names the score column baked into the blocks. Index
    postings carry BOTH ``weight`` (normTF*idf, the reference's tf-idf
    mode) and ``bm25_weight``; WAND scoring expects the latter, so every
    query-path caller must pass ``weight_col="bm25_weight"`` (or remap
    beforehand) — sharding the tf-idf column silently produces a
    differently-ranked top-k.

    Two-phase skew handling: hot terms (df > salt_df_threshold * n_docs)
    split into ``n_salts`` weight-quantile blocks (doc-hash fallback on
    tied weights) so each block is bounded; cold terms use salt 0. The
    collect_list groups are therefore all small, and the shuffle key
    (term, field, salt) spreads hot terms over n_salts tasks.

    ``doc_dim`` (doc_id, doc_idx) keys the blocks' docs by the DENSE
    index (collision-free at any corpus size; dense deltas
    varbyte-compress to ~1 byte each). Postings that already carry a
    ``doc_key`` (the merge path re-encoding decoded blocks) need none;
    any other call without ``doc_dim`` raises.
    """
    if weight_col != "weight":
        postings = postings.withColumn("weight", F.col(weight_col))
    threshold = max(int(cfg.salt_df_threshold * n_docs), 1)

    # IMPACT-ORDERED blocks for hot terms: salt = weight-quantile bucket
    # (percentile_approx — a combinable sketch aggregation, so deriving
    # the bounds is itself skew-safe). Block maxima then DECAY across a
    # hot term's blocks, which is what gives the block-max skip planner
    # something to skip — hash-partitioned salts homogenize every block's
    # max and skipping can only ever exclude whole terms. Quantile
    # bucketing keeps the write-skew bound (buckets ~df/n_salts) whenever
    # the bounds are distinct; a degenerate weight distribution (massive
    # ties -> indistinct bounds, e.g. a constant-weight synthetic term)
    # falls back to doc-hash salting per group: write-bounded,
    # skip-weak — the right trade, taken per (term, field). Cost: doc
    # deltas within an impact block are scattered rather than dense, so
    # doc_ids varbyte a few bits wider — paid only on hot terms.
    #
    # df + quantile bounds come from ONE aggregation pass so ``postings``
    # is referenced exactly twice (stats + keyed encode) — an extra
    # reference re-runs the whole upstream plan when the caller passes an
    # unmaterialized frame (the merge path's decode+upsert pipeline).
    aggs = [F.count("*").cast("long").alias("_df")]
    if cfg.n_salts > 1:
        probs = [i / cfg.n_salts for i in range(1, cfg.n_salts)]
        aggs.append(F.percentile_approx("weight", probs, 10000).alias("qb"))
    gstats = postings.groupBy("term", "field").agg(*aggs)
    if term_stats is not None:
        # caller-supplied df overrides the local count (same semantics as
        # the old term_stats parameter)
        gstats = gstats.drop("_df").join(
            term_stats.select("term", "field", F.col("df").alias("_df")),
            ["term", "field"],
        )
    if cfg.n_salts <= 1:
        gstats = gstats.withColumn(
            "qb", F.lit(None).cast(T.ArrayType(T.DoubleType()))
        )
    # ABSOLUTE block-size bound on top of the quantile split: a hot
    # bucket still holds ~df/n_salts postings — unbounded as df grows —
    # and a barely-cold group holds up to salt_df_threshold * n_docs.
    # Groups whose expected block exceeds cfg.block_target_postings are
    # doc-hash-split into ceil(size/target) sub-salts (hot: per quantile
    # bucket; cold: over the whole group), so no collect_list task ever
    # materializes more than ~target postings at ANY corpus size. Under
    # the default target the test/bench corpora produce sub == 1 and the
    # salt values — hence the encoded bytes — are identical to the
    # pre-bound layout.
    target = max(int(cfg.block_target_postings), 1)
    qb = (
        gstats.filter((F.col("_df") > threshold) | (F.col("_df") > target))
        .select(
            "term",
            "field",
            F.when(F.col("_df") > threshold, F.col("qb")).alias("qb"),
            F.when(
                F.col("_df") > threshold,
                F.greatest(
                    F.lit(1),
                    F.ceil(F.col("_df") / F.lit(cfg.n_salts * target)),
                ),
            )
            .otherwise(
                F.greatest(F.lit(1), F.ceil(F.col("_df") / F.lit(target)))
            )
            .cast("int")
            .alias("sub"),
        )
        # distinct-quantile-bounds test evaluated ONCE PER GROUP here —
        # the salt expression below used to re-run size(array_distinct)
        # on every POSTING row of the join output
        .withColumn(
            "quant",
            F.col("qb").isNotNull()
            & (F.size(F.array_distinct("qb")) == cfg.n_salts - 1),
        )
    )

    if "doc_key" not in postings.columns:
        if doc_dim is None:
            raise ValueError(
                "postings carry no doc_key: pass doc_dim= (build_doc_dim) "
                "to key them by the dense doc_idx"
            )
        postings = postings.join(
            doc_dim.select("doc_id", F.col("doc_idx").alias("doc_key")), "doc_id"
        )
    keyed = (
        postings
        .withColumn("shard", (term_hash60_col("term") % cfg.n_shards).cast("int"))
        .join(F.broadcast(qb), ["term", "field"], "left")
        .withColumn(
            "salt",
            # join miss: small cold group, single block
            F.when(F.col("sub").isNull(), F.lit(0))
            # hot + distinct quantile bounds: impact bucket, doc-hash
            # sub-split within the bucket (sub == 1 -> pure bucket id)
            .when(
                F.coalesce("quant", F.lit(False)),
                F.size(F.expr("filter(qb, b -> weight > b)")) * F.col("sub")
                + F.pmod(F.col("doc_key"), F.col("sub")),
            )
            # hot degenerate ties: doc-hash over all n_salts * sub blocks
            .when(
                F.col("qb").isNotNull(),
                F.pmod(F.col("doc_key"), F.lit(cfg.n_salts) * F.col("sub")),
            )
            # cold but oversized (df > target): doc-hash sub-split
            .otherwise(F.pmod(F.col("doc_key"), F.col("sub")))
            .cast("int"),
        )
        .select("term", "field", "shard", "salt", "doc_key", "tf", "positions", "weight")
    )
    grouped = (
        keyed.groupBy("term", "field", "shard", "salt")
        .agg(
            F.collect_list(
                F.struct("doc_key", "tf", "weight", "positions")
            ).alias("pl")
        )
        .select(
            "term", "field", "shard", "salt",
            F.col("pl.doc_key").alias("doc_keys"),
            F.col("pl.tf").alias("tfs_arr"),
            F.col("pl.weight").alias("weights_arr"),
            F.col("pl.positions").alias("pos_arr"),
        )
    )
    return grouped.mapInPandas(_encode_blocks, SHARD_SCHEMA)


# ---------------------------------------------------------------------------
# decode path (proves round-trip; also feeds WAND)
# ---------------------------------------------------------------------------

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("field", T.StringType()),
        T.StructField("doc_key", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


def decode_shards(
    shards: DataFrame,
    passthrough: tuple[str, ...] = (),
    fields: tuple[str, ...] = ("tf", "weight", "positions"),
    doc_keys=None,
    key_ranges: dict | None = None,
    consumer: tuple | None = None,
) -> DataFrame:
    """posting_shards -> one row per (term, field, doc_key) — the
    round-trip inverse of build_posting_shards (modulo doc_id -> dense
    doc_key). ``passthrough`` names extra non-payload columns
    to replicate onto every decoded row (e.g. a segment tag the merge
    adds before a single union-then-decode stage); they must not collide
    with the decoded column names.

    ``fields`` selects which payload streams to decode: term-bag WAND
    needs only ``weight`` (impact scores are precomputed), so it skips
    the varbyte decode of tfs + positions AND — the bigger cost — the
    Arrow transfer of the per-doc position lists; the phrase path asks
    for ``(weight, positions)``. Undecoded payload columns never leave
    parquet (column pruning) and never cross Arrow.

    ``doc_keys`` (optional int64 array/list): restrict the decoded rows
    to these keys — the skip planner's doc-level candidate pruning
    (wand.plan_blocks). The doc_id stream is still varbyte-decoded (it
    must be, to know which rows to keep), but the kept rows — and with
    them the Arrow transfer and every downstream shuffle — shrink to
    the candidate postings. The filter ships as a task closure: it is
    bounded by |blocks| * BLOCK_SAMPLE_N keys, never corpus-sized.

    ``key_ranges`` (optional {(term, field, salt) ->
    (n_sub, [chunk indices])}): RANGE-level pruning from
    wand.plan_blocks — for listed blocks, keep only the named equi-depth
    sub-ranges of the doc_key-sorted postings (the encoder's chunking:
    chunk i covers sorted positions [i*n//n_sub, (i+1)*n//n_sub)).
    ``n_sub`` is the chunk count the block was ENCODED with (the planner
    reads it off the block's own range_maxw length), so the positional
    mapping stays exact even if RANGE_SUB_N changes between build and
    serve. Blocks absent from the dict decode whole; combines with
    ``doc_keys`` by intersection.

    ``consumer`` (optional ``(fn, schema)``): hand each task's decoded
    frames (an iterator of pandas frames with the columns above) to
    ``fn`` inside the same Python task, and return what it yields, of
    ``schema``, instead of the decoded rows — decode and the consumer's
    work then cost one Python crossing (the one-task WAND top-k)."""
    extra = list(passthrough)
    want = [f for f in ("tf", "weight", "positions") if f in fields]
    out_cols = ["term", "field", "doc_key"] + want + extra
    by_name = {f.name: f for f in DECODED_SCHEMA.fields}
    schema = T.StructType(
        [by_name[c] for c in ["term", "field", "doc_key"] + want]
        + [shards.schema[c] for c in extra]
    )
    want_tf = "tf" in want
    want_w = "weight" in want
    want_pos = "positions" in want
    cand = (
        np.unique(np.asarray(doc_keys, dtype=np.int64))
        if doc_keys is not None
        else None
    )

    def _decode(batch_iter):
        # batch-level decode (round 6): the former per-block loop paid
        # fixed numpy/pandas overhead per block (vb_decode calls, tiny
        # DataFrames, a pd.concat over thousands of frames). Varbyte is
        # self-delimiting, so a CHUNK of blocks' streams decodes in ONE
        # pass over the concatenated buffers; per-block boundaries come
        # from cumulative terminator counts at buffer edges. Chunks are
        # bounded by compressed doc_id bytes (~2 MB, i.e. ~1-2M
        # postings) so peak decoded-arrays memory per task stays tens of
        # MB regardless of how hot the batch's blocks are (same OOM
        # guard as _encode_blocks).
        for whole in batch_iter:
            if len(whole) == 0:
                yield pd.DataFrame({c: [] for c in out_cols})
                continue
            wlens = np.fromiter(
                (len(b) for b in whole["doc_ids"]), np.int64,
                count=len(whole),
            )
            cum = np.cumsum(wlens)
            edges = [0]
            budget = 2 << 20
            next_cut = budget
            for i, c in enumerate(cum):
                if c >= next_cut:
                    edges.append(i + 1)
                    next_cut = c + budget
            if edges[-1] != len(whole):
                edges.append(len(whole))
            for lo, hi in zip(edges[:-1], edges[1:]):
                yield _decode_frame(whole.iloc[lo:hi].reset_index(drop=True))

    def _decode_frame(pdf):
            nb = len(pdf)
            bufs = pdf["doc_ids"].tolist()
            blens = np.fromiter((len(b) for b in bufs), np.int64, count=nb)
            joined = b"".join(bufs)
            big = np.frombuffer(joined, dtype=np.uint8)
            tc = np.cumsum((big & 0x80) != 0)
            b_ends = np.cumsum(blens)
            counts = np.diff(
                np.concatenate(
                    ([0], np.where(b_ends > 0, tc[b_ends - 1], 0))
                )
            )
            total = int(counts.sum())
            deltas = vb_decode(joined).astype(np.uint64)
            # within-block cumsum: global cumsum minus the running total
            # at each block's first value. Accumulated in uint64: the
            # running total over several blocks of large keys can pass
            # 2^64, but modular subtraction of the block's base
            # still yields the block's own cumsum mod 2^64, which IS the
            # key (keys < 2^63), so the int64 cast at the end is exact
            g = np.cumsum(deltas, dtype=np.uint64)
            v_starts = np.cumsum(counts) - counts
            base = np.repeat(
                np.where(
                    v_starts > 0, g[np.maximum(v_starts, 1) - 1], np.uint64(0)
                ),
                counts,
            )
            keys = (g - base).astype(np.int64)
            mask = None
            if key_ranges is not None:
                terms_a = pdf["term"].tolist()
                fields_a = pdf["field"].tolist()
                salts_a = pdf["salt"].tolist()
                for b in range(nb):
                    sel = key_ranges.get(
                        (terms_a[b], fields_a[b], int(salts_a[b]))
                    )
                    if sel is None:
                        continue
                    n_sub, kept_idx = int(sel[0]), sel[1]
                    n0 = int(counts[b])
                    s = int(v_starts[b])
                    edges = (
                        np.arange(n_sub + 1, dtype=np.int64) * n0
                    ) // n_sub
                    if mask is None:
                        mask = np.ones(total, dtype=bool)
                    mask[s:s + n0] = False
                    for i in kept_idx:
                        if i < n_sub:
                            mask[s + edges[i]:s + edges[i + 1]] = True
            if cand is not None:
                # keys are unique per block but not across blocks, so no
                # assume_unique on the haystack side of a GLOBAL isin
                cm = np.isin(keys, cand)
                mask = cm if mask is None else (mask & cm)
            if mask is not None and bool(mask.all()):
                mask = None
            n_out = total if mask is None else int(mask.sum())
            if n_out == 0:
                return pd.DataFrame({c: [] for c in out_cols})
            block = {
                "term": np.repeat(
                    pdf["term"].to_numpy(dtype=object), counts
                ),
                "field": np.repeat(
                    pdf["field"].to_numpy(dtype=object), counts
                ),
                "doc_key": keys,
            }
            if want_tf:
                block["tf"] = vb_decode(b"".join(pdf["tfs"])).astype(np.int32)
            if want_w:
                block["weight"] = np.frombuffer(
                    b"".join(pdf["weights"]), dtype=">f8"
                ).astype(np.float64)
            if want_pos:
                pos_lens = vb_decode(b"".join(pdf["pos_lens"]))
                flat = vb_decode(b"".join(pdf["positions"]))
                ends = np.cumsum(pos_lens)
                if flat.size:
                    g2 = np.cumsum(flat)
                    starts = ends - pos_lens
                    pbase = np.repeat(
                        np.where(starts > 0, g2[np.maximum(starts, 1) - 1], 0),
                        pos_lens,
                    )
                    abs_pos = (g2 - pbase).astype(np.int32)
                else:
                    abs_pos = np.zeros(0, dtype=np.int32)
                # one array view per posting; Arrow converts ndarray
                # cells to list<int> natively
                per_doc = np.split(abs_pos, ends[:-1])
                if mask is not None:
                    per_doc = [p for p, m in zip(per_doc, mask) if m]
                block["positions"] = pd.Series(per_doc, dtype=object)
            for c in extra:
                block[c] = np.repeat(pdf[c].to_numpy(dtype=object), counts)
            if mask is not None:
                for c in list(block):
                    if c != "positions":
                        block[c] = block[c][mask]
            return pd.DataFrame(block, columns=out_cols)

    # only the REQUESTED payload columns cross Arrow — block metadata
    # (salt, max_weight, the per-block top-N samples) is planner-side,
    # and unrequested streams (e.g. positions for a term-bag query)
    # stay in parquet entirely
    need = ["term", "field", "doc_ids"]
    if key_ranges is not None and "salt" not in extra:
        # the range filter is keyed by (term, field, salt); extra INPUT
        # columns are fine — mapInPandas' schema constrains output only
        need.append("salt")
    if want_tf:
        need.append("tfs")
    if want_w:
        need.append("weights")
    if want_pos:
        need += ["pos_lens", "positions"]
    if consumer is None:
        return shards.select(*(need + extra)).mapInPandas(_decode, schema)
    then, out_schema = consumer
    return shards.select(*(need + extra)).mapInPandas(
        lambda batch_iter: then(_decode(batch_iter)), out_schema
    )


BLOCK_META_COLS = ["term", "field", "salt", "df"] + SKIP_META_COLS


def _block_meta_row(r) -> Row:
    """One metadata row as the planner reads it: a sample-complete block
    (df <= BLOCK_SAMPLE_N, decided by df alone) gets its skip metadata
    rebuilt from its own doc_ids + weights; any other block keeps what
    the encoder stored. The payload bytes are not kept."""
    d = r.asDict()
    doc_ids, weights = d.pop("doc_ids"), d.pop("weights")
    if int(d["df"]) <= BLOCK_SAMPLE_N:
        keys = np.cumsum(vb_decode(doc_ids))
        w = np.frombuffer(weights, dtype=">f8").astype(np.float64)
        d.update(block_skip_meta(keys, w))
    return Row(**d)


def term_block_meta(
    shards: DataFrame,
    terms: list[str],
    cfg: EngineConfig,
    meta_cache: dict | None = None,
) -> list | None:
    """The query terms' block-metadata rows (BLOCK_META_COLS),
    optionally through the caller's per-term cache — the shared
    serving-node term dictionary (see wand.wand_topk_from_shards's
    meta_cache contract). Returns None when the shards frame predates
    block metadata.

    Sample-complete blocks (df <= BLOCK_SAMPLE_N) store no skip
    metadata: the scan also projects their ``doc_ids`` and ``weights``
    (NULL for every other block, so larger payloads never leave the
    executors) and the five fields are rebuilt here with the encoder's
    own block_skip_meta, before the cache stores the row. The scan
    therefore reads those two column chunks of the row groups it
    touches; the rows and the plan built from them equal what a stored
    copy would give."""
    if "top_weights" not in shards.columns:
        return None
    term_list = sorted(set(terms))
    missing = (
        term_list
        if meta_cache is None
        else [t for t in term_list if t not in meta_cache]
    )
    fetched: dict[str, list] = {t: [] for t in missing}
    if missing:
        complete = F.col("df") <= F.lit(BLOCK_SAMPLE_N)
        for r in (
            prune_shards(shards, missing, cfg)
            .select(
                *BLOCK_META_COLS,
                F.when(complete, F.col("doc_ids")).alias("doc_ids"),
                F.when(complete, F.col("weights")).alias("weights"),
            )
            .collect()
        ):
            fetched[r["term"]].append(_block_meta_row(r))
    if meta_cache is None:
        return [r for t in term_list for r in fetched[t]]
    meta_cache.update(fetched)
    return [r for t in term_list for r in meta_cache.get(t, [])]


def query_decode_parts(meta: list | None, cfg: EngineConfig) -> int | None:
    """Scale-adaptive decode-task count from the terms' summed block df
    (guide §2.2): ~query_target_postings_per_task postings per task —
    tiny queries run one decode task, hot terms fan out."""
    if meta is None:
        return None
    vol = 0
    for r in meta:
        try:
            vol += int(r["df"] or 0)
        except (ValueError, KeyError):
            pass
    target = max(int(cfg.query_target_postings_per_task), 1)
    return max(1, -(-vol // target))


def prune_shards(shards: DataFrame, terms: list[str], cfg: EngineConfig) -> DataFrame:
    """Restrict a shard frame to the given terms' blocks: term filter
    (parquet In pushdown) + driver-derived shard ids (partition pruning
    on the partitionBy("shard") layout). The shared front of every
    shard-backed query path."""
    term_set = sorted(set(terms))
    pruned = shards.filter(isin_col("term", term_set))
    if "shard" in shards.columns:
        from ..functions.hashing import term_hash60_py

        ids = sorted({term_hash60_py(t) % cfg.n_shards for t in term_set})
        pruned = pruned.filter(isin_col("shard", ids))
    return pruned


def _dense_index(ids: DataFrame, start: int = 0) -> DataFrame:
    """Contiguous ``doc_idx`` (from ``start``) over an already
    range-partitioned, within-partition-sorted (doc_id) frame — the
    zipWithIndex assignment (partition order x row order) without the
    RDD round-trip: the old ``ids.rdd.map(...).zipWithIndex()`` pickled
    EVERY doc_id through a row-at-a-time Python lambda and re-created
    the DataFrame from Python rows (guide §4). Same two jobs (one
    per-partition count, one assignment), but both Arrow-vectorized.

    The partition id comes from TaskContext INSIDE the UDFs, not from a
    ``spark_partition_id()`` expression: that expression is
    NON-DETERMINISTIC to Catalyst, and a nondeterministic node anywhere
    in a cached frame's lineage breaks CacheManager plan-matching for
    DOWNSTREAM caches built on top of it — measured as cached shard
    frames silently recomputing their whole build inside composed
    queries (12x query regression) while standalone scans hit the
    cache. TaskContext keeps the plan fully deterministic."""
    import pandas as pd
    from pyspark import TaskContext

    def count_parts(batch_iter):
        n = 0
        for pdf in batch_iter:
            n += len(pdf)
        # one row per task, empty partitions included
        yield pd.DataFrame(
            {"p": [TaskContext.get().partitionId()], "n": [n]}
        )

    counts = {
        int(r["p"]): int(r["n"])
        for r in ids.select("doc_id")
        .mapInPandas(count_parts, "p int, n long")
        .collect()
    }
    offsets = {}
    acc = start
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]

    def assign(batch_iter):
        base = None
        for pdf in batch_iter:
            if len(pdf) == 0:
                yield pd.DataFrame({"doc_id": [], "doc_idx": []})
                continue
            if base is None:
                base = offsets[int(TaskContext.get().partitionId())]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "doc_idx": np.arange(base, base + n, dtype=np.int64),
                }
            )
            base += n

    return ids.select("doc_id").mapInPandas(
        assign, "doc_id string, doc_idx long"
    )


def build_doc_dim(corpus: DataFrame) -> DataFrame:
    """(doc_id, doc_idx) — dense, deterministic document index.

    Range-partition by doc_id + sort within partitions gives a global
    order; contiguous ids are assigned per partition with one extra job
    to count per-partition offsets (no single-reducer window — this
    scales to any corpus size, unlike ``row_number() OVER (ORDER BY
    ...)``). Assignment is identical to the former RDD zipWithIndex,
    minus its per-row Python boundary (see _dense_index)."""
    n_parts = max(corpus.rdd.getNumPartitions(), 8)
    ids = (
        corpus.select("doc_id")
        .distinct()
        .repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        # the count pass and the assignment pass MUST see the same
        # partition contents: range partitioning re-samples its bounds
        # per execution (verified: unpinned, the two passes disagree),
        # so the checkpoint is correctness-bearing, not an optimization
        .localCheckpoint(eager=False)
    )
    # EAGER checkpoint of the finished dimension: the returned plan is a
    # leaf LogicalRDD. Leaving the construction lineage (lazy checkpoint
    # + mapInPandas) in the plan broke CacheManager plan-matching for
    # DOWNSTREAM caches whose lineage embeds this dim (a cached shard
    # frame silently recomputed its whole build inside composed queries,
    # a measured 9x query regression, while standalone scans hit the
    # cache). Every caller materializes the dim immediately anyway.
    return _dense_index(ids).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# LSM-style delta merge (north-rule "posting-list ... merge")
# ---------------------------------------------------------------------------

def merge_posting_shards(
    base: DataFrame,
    delta: DataFrame,
    n_docs: int,
    cfg: EngineConfig = DEFAULT,
    delete_postings: DataFrame | None = None,
    partitions_only: bool = False,
) -> DataFrame:
    """Merge a delta shard set into a base shard set, decoding ONLY the
    touched (term, field) groups.

    ``partitions_only=True`` returns ONLY the rows belonging to shard
    partitions the delta touches (merged + their pass-through rows) —
    the frame to write with dynamic partition overwrite
    (``spark.sql.sources.partitionOverwriteMode=dynamic`` over the
    ``partitionBy("shard")`` layout), so compaction I/O is bounded by
    |touched shard partitions| regardless of index size. The default
    returns the complete merged index (in-memory serving / tests).

    The reference merges per-term posting JSON under a writer lock
    (indexer.go:350-408 read-modify-write); here the merge is a plan:

    - touched groups = (term, field) present in ``delta`` or in
      ``delete_postings`` (term, field, doc_key — the exact old postings
      of deleted/changed docs, known from the warehouse's postings_raw).
      Everything else passes through UNTOUCHED — the varbyte payloads
      are never decoded, so merge cost scales with the delta, not the
      index (the LSM compaction property; at 10^12 files the base is
      ~all of the index and the delta is one crawl batch).
    - touched groups are decoded (base + delta), upserted (a doc_key
      present in both sides takes the delta's row), tombstones dropped,
      then re-encoded by the same block builder — so salt
      classification is re-derived from the merged df (a term that
      crossed the hot threshold gets salted now, not at the next full
      rebuild).

    Weight semantics (the standard LSM trade): stored impact weights are
    carried as-is per segment; global-stats drift (df/avgdl/N move as
    docs arrive) is NOT retrofitted onto untouched blocks — the periodic
    full pipeline rebuild refreshes them. Exactness on postings (doc
    sets, tf, positions) is total; tests build both sides against the
    same stats and assert merged == rebuilt-from-scratch.

    Caller contract: each side holds AT MOST ONE posting per (term,
    field, doc_key) — true of anything build_posting_shards produced
    from per-(term, field, doc) postings. A delta violating this (two
    versions of the same posting in one segment) would make the max_by
    upsert pick an arbitrary winner among the src-tied rows; sequence
    multiple updates of one doc as multiple merges (or pre-dedupe the
    delta), exactly as an LSM sequences memtable flushes. Tests assert
    the <=2-rows-per-group invariant on the merged decode.

    Both sides must be keyed by the same doc_dim. Pass MATERIALIZED
    segments (cached or read from storage): the plan references each
    side more than once (touched-set derivation, pass-through anti-join,
    decode), and Spark does not dedupe common subplans — an
    unmaterialized side gets recomputed per reference.
    """
    touched = delta.select("term", "field").distinct()
    if delete_postings is not None:
        touched = touched.unionByName(
            delete_postings.select("term", "field").distinct()
        ).distinct()

    if partitions_only:
        # bounded collect: <= cfg.n_shards distinct partition ids
        ids = sorted(
            {r[0] for r in delta.select("shard").distinct().collect()}
            | (
                {
                    r[0]
                    for r in delete_postings.select(
                        (term_hash60_col("term") % cfg.n_shards).cast("int")
                    ).distinct().collect()
                }
                if delete_postings is not None
                else set()
            )
        )
        base = base.filter(isin_col("shard", ids))

    untouched = base.join(touched, ["term", "field"], "left_anti")
    touched_base = base.join(touched, ["term", "field"], "left_semi")

    # upsert as an ANTI-JOIN instead of a groupBy(term, field, doc_key)
    # + max_by over the full decoded volume (round 6): each side holds
    # at most one posting per (term, field, doc_key) — the documented
    # caller contract — so "delta wins" is exactly "drop base rows whose
    # key appears in the delta (or in the tombstones), then union the
    # delta rows". The delta's key set is delta-sized, so Spark plans a
    # broadcast anti-join and the TOUCHED BASE ROWS ARE NEVER SHUFFLED
    # (the old aggregation shuffled every decoded posting, positions
    # arrays included); a delta too big to broadcast degrades to the
    # same shuffle the aggregation always paid. Tombstone semantics
    # unchanged: a tombstoned base row dies, a delta row re-adding the
    # same key supersedes its own tombstone (it is not in drop_keys'
    # base-side application).
    base_rows = decode_shards(touched_base)
    # the delta's decoded rows feed both drop_keys and the union below:
    # materialize them once so the delta is decoded once
    delta_rows = decode_shards(delta).localCheckpoint(eager=False)
    drop_keys = delta_rows.select("term", "field", "doc_key")
    if delete_postings is not None:
        drop_keys = drop_keys.unionByName(
            delete_postings.select("term", "field", "doc_key")
        )
    merged = base_rows.join(
        F.broadcast(drop_keys.distinct()), ["term", "field", "doc_key"],
        "left_anti",
    ).unionByName(
        delta_rows.select(
            "term", "field", "doc_key", "tf", "weight", "positions"
        )
    )
    merged = merged.select("term", "field", "doc_key", "tf", "weight", "positions")
    # the re-encode references its input twice (salt-stats pass + keyed
    # encode); without a materialization barrier the whole decode+upsert
    # pipeline above would run twice per action. Lazy localCheckpoint
    # persists the touched-group rows (size ∝ delta's reach, not the
    # index) on first use; compaction re-runs from scratch on executor
    # loss — idempotent, the standard recovery story for a compaction job.
    merged = merged.localCheckpoint(eager=False)
    reencoded = build_posting_shards(merged, n_docs, cfg)
    return untouched.unionByName(reencoded)


def refresh_shard_stats(
    shards: DataFrame,
    term_stats: DataFrame,
    doc_stats_keyed: DataFrame,
    corpus_stats_rows: list,
    cfg: EngineConfig = DEFAULT,
    drift_threshold: float = 0.1,
    partitions_only: bool = False,
) -> DataFrame:
    """Recompute stale BM25 impact weights for ONLY the (term, field)
    groups whose df drifted past ``drift_threshold`` since their blocks
    were encoded — the complement of merge_posting_shards' documented
    weight-drift trade (untouched blocks keep encode-time weights until
    a refresh or full rebuild).

    - stored df per group = sum of block dfs over its salts (readable
      from block metadata, payloads untouched);
    - drifted = |stored - current| / current > threshold, joined against
      ``term_stats`` (the CURRENT (term, field, df) frame);
    - drifted groups are decoded, re-weighted with the current stats
      (df + dl + n_docs/avgdl via bm25_contrib_col — tf and positions
      pass through unchanged), and re-encoded by the same block builder
      (salt classification re-derived from current df);
    - everything else passes through byte-identical (gated in tests).

    A refresh NEVER deletes postings: a decoded row whose (doc_key,
    field) is absent from the CURRENT doc stats (doc removed from the
    corpus but not yet tombstoned, or a doc that lost a field) keeps its
    STORED weight — deletions flow only through merge_posting_shards
    tombstones. A decoded field absent from ``corpus_stats_rows`` while
    its dl IS present fails loudly (raise_error) instead of encoding a
    silent NULL weight.

    ``doc_stats_keyed`` must be (doc_key, field, dl) keyed by the
    shards' doc_dim (key_doc_stats);
    ``corpus_stats_rows`` is the collected CURRENT corpus_stats (field,
    n_docs, avgdl). Global-stats drift (n_docs/avgdl move too) is only
    repaired on the groups this refresh touches — when global drift
    alone matters (or the stored weights come from a different scorer
    entirely, e.g. a legacy tf-idf index migrating to BM25 in place),
    pass drift_threshold<=0 to refresh EVERY group: the degenerate full
    re-weight, still cheaper than a pipeline rebuild (no tokenize, no
    posting aggregation, one decode->join->encode pass).

    Same bounded-write shape as the merge: ``partitions_only=True``
    returns only the touched shard partitions' rows for dynamic
    partition overwrite. Pass materialized inputs (the plan references
    ``shards`` more than once).
    """
    from .bm25 import bm25_contrib_col

    stored = shards.groupBy("term", "field").agg(
        F.sum("df").alias("stored_df")
    )
    drifted = stored.join(term_stats, ["term", "field"])
    if drift_threshold > 0:
        drifted = drifted.filter(
            (F.abs(F.col("stored_df") - F.col("df")) / F.col("df"))
            > F.lit(float(drift_threshold))
        )
    # else: threshold <= 0 refreshes every group — stored df equal to
    # the current df must NOT exempt a group (its weights can still be
    # stale via n_docs/avgdl drift or a scorer migration)
    drifted = (
        drifted.select("term", "field")
        # tiny (drifted group keys only), referenced up to three times
        # below (partition-id collect, left_anti, left_semi) — without a
        # barrier each reference re-runs the full shards groupBy
        .localCheckpoint(eager=False)
    )
    if partitions_only:
        ids = sorted(
            {
                r[0]
                for r in drifted.select(
                    (term_hash60_col("term") % cfg.n_shards).cast("int")
                ).distinct().collect()
            }
        )
        shards = shards.filter(isin_col("shard", ids))
    untouched = shards.join(drifted, ["term", "field"], "left_anti")
    touched = shards.join(drifted, ["term", "field"], "left_semi")

    # the stored weight rides the decode as the orphan fallback (a
    # posting with no current dl keeps it; 8 bytes/posting extra Arrow)
    rows = decode_shards(touched).withColumnRenamed("weight", "stored_weight")
    # salt-threshold base for the re-encode: the corpus-level doc count
    # is the max over per-field counts (a field's n_docs counts only
    # docs HAVING that field — taking row 0 arbitrarily undercounts
    # whenever the first field is sparse)
    n_docs = max(int(r["n_docs"]) for r in corpus_stats_rows)
    contrib = None
    for r in corpus_stats_rows:
        c = bm25_contrib_col(cfg, int(r["n_docs"]), float(r["avgdl"]))
        contrib = (
            F.when(F.col("field") == r["field"], c)
            if contrib is None
            else contrib.when(F.col("field") == r["field"], c)
        )
    # loud failure on a field with a current dl but no corpus stats —
    # the silent alternative is a NULL weight packed as NaN
    contrib = contrib.otherwise(
        F.raise_error(
            F.concat(
                F.lit("refresh_shard_stats: decoded field '"),
                F.col("field"),
                F.lit("' missing from corpus_stats_rows"),
            )
        )
    )
    reweighted = (
        rows.join(F.broadcast(term_stats), ["term", "field"])
        .join(doc_stats_keyed, ["doc_key", "field"], "left")
        .withColumn(
            "weight",
            F.when(F.col("dl").isNull(), F.col("stored_weight")).otherwise(
                contrib
            ),
        )
        .select("term", "field", "doc_key", "tf", "positions", "weight")
        # barrier: same double-reference economics as the merge path
        .localCheckpoint(eager=False)
    )
    reencoded = build_posting_shards(reweighted, n_docs, cfg)
    return untouched.unionByName(reencoded)


def key_doc_stats(doc_stats: DataFrame, doc_dim: DataFrame) -> DataFrame:
    """doc_stats(doc_id, field, dl) -> (doc_key, field, dl), keyed by the
    dense doc_idx of ``doc_dim`` (doc_id, doc_idx)."""
    return doc_stats.join(doc_dim, "doc_id").select(
        F.col("doc_idx").alias("doc_key"), "field", "dl"
    )


def resort_index(
    shards: DataFrame, doc_dim: DataFrame, cfg: EngineConfig = DEFAULT
) -> tuple[DataFrame, DataFrame]:
    """Dense-dim compaction: re-derive a GLOBALLY doc_id-sorted dimension
    and remap every block's doc_keys onto it. Returns (new_dim,
    new_shards).

    Why: extend_doc_dim appends new docs' indexes past the current max,
    so doc_idx order equals doc_id string order only within an ingest
    segment — exact-score ties in dense-key WAND then rank by segment
    age instead of doc_id until this re-sort (the caveat documented on
    extend_doc_dim). After resort, (score desc, doc_idx asc) is again
    the same total order as (score desc, doc_id asc).

    Cost shape, honestly: this rewrites every block containing a
    remapped doc — and a global re-sort remaps ~all docs, so the pass
    decodes and re-encodes the whole index. What it does NOT redo is the
    expensive front of the pipeline (tokenize, posting aggregation,
    stats, weighting): one decode -> key-translate join -> encode pass
    with constant stage count, the periodic dim-compaction a dense-key
    engine schedules alongside stats refresh. Weights/tf/positions pass
    through bit-identical.
    """
    n_docs_hint = doc_dim.count()
    new_dim = build_doc_dim(doc_dim.select("doc_id"))
    remap = doc_dim.join(new_dim.withColumnRenamed("doc_idx", "new_idx"), "doc_id")
    rows = decode_shards(shards)
    rekeyed = (
        rows.join(
            remap.select(F.col("doc_idx").alias("doc_key"), "new_idx"), "doc_key"
        )
        .drop("doc_key")
        .withColumnRenamed("new_idx", "doc_key")
        .select("term", "field", "doc_key", "tf", "positions", "weight")
        # barrier: same double-reference economics as the merge path
        .localCheckpoint(eager=False)
    )
    return new_dim, build_posting_shards(rekeyed, n_docs_hint, cfg)


def extend_doc_dim(doc_dim: DataFrame, new_corpus: DataFrame) -> DataFrame:
    """Append-only doc_idx assignment: docs not yet in ``doc_dim`` get
    contiguous indexes starting past the current max (in doc_id order
    among themselves). Existing mappings are never re-derived — required
    for merge_posting_shards with dense keys, where base blocks bake the
    old indexes in.

    Tie-break caveat this creates: doc_idx order now equals doc_id
    string order only WITHIN an ingest segment, so the dense-key WAND
    tie-break (score desc, doc_idx asc) ranks exact score ties by
    segment age first. The periodic full rebuild re-derives a globally
    sorted dim and restores string-order ties."""
    row = doc_dim.agg(F.max("doc_idx")).first()
    start = int(row[0]) + 1 if row[0] is not None else 0
    fresh = (
        new_corpus.select("doc_id")
        .distinct()
        .join(doc_dim.select("doc_id"), "doc_id", "left_anti")
        .repartitionByRange(max(new_corpus.rdd.getNumPartitions(), 8), "doc_id")
        .sortWithinPartitions("doc_id")
        .localCheckpoint(eager=False)  # pin partition contents (see build_doc_dim)
    )
    # eager leaf for the same plan-matching reason as build_doc_dim
    new_rows = _dense_index(fresh, start=start).localCheckpoint(eager=True)
    return doc_dim.unionByName(new_rows)
