"""Training-data text operators: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), language & quality stats, token counting, fingerprints.

These are the operations a 100 TB training-data pipeline runs over the
corpus besides search indexing. All are pure DataFrame ops over a
``tokens(id, pos, term)`` frame — no Python in the hot path. Hash
identities come from functions/hashing.term_hash60 so every operator
here has a bit-identical pure-Python reference (tests/test_textops.py).

Scale notes:
  - MinHash signatures: one groupBy(id) over |salts| aggregates — the
    classic map-side-combinable min; no skew (groups keyed by doc).
  - LSH candidate pairs: banded signatures (b bands x r rows: bucket
    key = hash of r consecutive minhashes), self-joined on
    (band, bucket). Candidate probability follows the S-curve
    1-(1-s^r)^b, so r>1 actually FILTERS (r=1 degenerates to "any
    shared minhash" — near-all-pairs on a shared-vocab corpus). The
    ``max_bucket`` cardinality cap stays as the degenerate guard
    (boilerplate/identical docs, which exact-dedup catches cheaply).
  - SimHash: explode 60 bit positions per (id, term) — constant 60x
    expansion, partial aggregation keeps shuffle rows at
    |ids| * 60 per partition.
  - Shingle Jaccard: exact pairwise verification, intended for
    LSH-candidate pairs or small corpora; the all-pairs form here is the
    correctness oracle for the LSH path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import term_hash60_col


DEFAULT_REDACTIONS: dict[str, tuple[str, str]] = {
    # name -> (pattern, replacement). Patterns stick to syntax shared by
    # Java regex (Spark) and RE2 so behavior is portable.
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    "hex_secret": (r"\b[0-9a-fA-F]{32,}\b", "<SECRET>"),
}


def redact_pii(
    documents: DataFrame,
    id_col: str,
    text_col: str,
    redactions: dict[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """(id, redacted, n_<name>... counts) — scrub PII-ish patterns before
    text reaches a training set. All native regexp_replace /
    regexp_count (JVM codegen, no Python); counts per pattern let the
    pipeline monitor scrub rates and alert on drift."""
    redactions = DEFAULT_REDACTIONS if redactions is None else redactions
    cols = [F.col(id_col).alias("id")]
    out = F.col(text_col)
    for name, (pat, repl) in redactions.items():
        cols.append(
            F.regexp_count(F.col(text_col), F.lit(pat))
            .cast("long")
            .alias(f"n_{name}")
        )
        out = F.regexp_replace(out, pat, repl)
    cols.insert(1, out.alias("redacted"))
    return documents.select(*cols)


def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split:",
    buckets: int = 10_000,
) -> DataFrame:
    """+ ``split`` column — deterministic train/val/test assignment by
    portable 60-bit hash of the id: bucket = hash60(salt||id) % buckets,
    split = the cumulative-fraction range the bucket falls in. Stable
    across runs/engines (same rows land in the same split forever —
    the property random splits lose on re-runs), leakage-safe when the
    id is the dedup-cluster representative rather than the raw doc id.
    """
    items = list(fractions.items())
    bucket = F.pmod(
        term_hash60_col(F.col(id_col).cast("string"), salt=salt), F.lit(buckets)
    )
    expr = None
    acc = 0.0
    for name, frac in items[:-1]:
        acc += frac
        cond = bucket < F.lit(int(round(acc * buckets)))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def exact_dup_groups(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(content_md5, n_dupes, keep_id) — exact dedup by content hash,
    deterministically keeping the smallest id."""
    return (
        documents.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.count("*").cast("long").alias("n_dupes"),
            F.min(id_col).alias("keep_id"),
        )
    )


def minhash_signatures(
    tokens: DataFrame, id_col: str = "id", n_hashes: int = 8
) -> DataFrame:
    """tokens(id, term) -> (id, salt, minhash): per-salt min over salted
    60-bit term hashes. Set semantics (duplicate terms collapse in min)."""
    salted = tokens.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("salt"),
                    term_hash60_col("term", salt=f"s{s}:").alias("h"),
                )
                for s in range(n_hashes)
            ])
        ).alias("sh"),
    ).select("id", F.col("sh.salt").alias("salt"), F.col("sh.h").alias("h"))
    return salted.groupBy("id", "salt").agg(F.min("h").alias("minhash"))


def lsh_band_buckets(signatures: DataFrame, band_rows: int = 2) -> DataFrame:
    """signatures(id, salt, minhash) -> (id, band, bucket): group the
    signature into bands of ``band_rows`` consecutive salts; the bucket
    key hashes the band's minhashes in salt order (portable 60-bit hash,
    so a Python reference reproduces buckets bit-for-bit)."""
    banded = signatures.withColumn(
        "band", F.floor(F.col("salt") / band_rows).cast("int")
    )
    sig = banded.groupBy("id", "band").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("salt", "minhash"))),
                lambda s: s["minhash"].cast("string"),
            ),
        ).alias("band_sig")
    )
    return sig.select("id", "band", term_hash60_col("band_sig").alias("bucket"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    band_rows: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b) distinct pairs sharing at least one LSH band bucket,
    id_a < id_b. With n_hashes salts and ``band_rows`` r, b = n/r bands:
    P[candidate | jaccard s] = 1-(1-s^r)^b. r=1 reproduces the
    degenerate any-shared-minhash scheme (near-all-pairs on corpora
    with shared vocabulary) — use r>=2 for a real S-curve.

    ``max_bucket`` drops degenerate buckets (more than that many members)
    before the self-join — at corpus scale a bucket of B docs emits
    B^2/2 pairs, so near-identical boilerplate (license headers, vendored
    files) would otherwise explode the join. Dropped buckets are exactly
    the ones exact-dedup already catches cheaply."""
    sigs = lsh_band_buckets(signatures, band_rows)
    if max_bucket is not None:
        ok = (
            sigs.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") <= max_bucket)
            .select("band", "bucket")
        )
        sigs = sigs.join(ok, ["band", "bucket"], "left_semi")
    a = sigs.select(F.col("band"), F.col("bucket"), F.col("id").alias("id_a"))
    b = sigs.select(F.col("band"), F.col("bucket"), F.col("id").alias("id_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def token_shingles(tokens: DataFrame, id_col: str = "id", n: int = 3) -> DataFrame:
    """tokens(id, pos, term) -> (id, shingle) distinct n-token shingles
    (space-joined) over the position-ordered stream."""
    grouped = tokens.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "term"))),
            lambda s: s["term"],
        ).alias("toks")
    )
    shingled = grouped.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.when(
                F.size("toks") >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, n)),
                ),
            ).otherwise(F.array()),
        ).alias("shingle"),
    )
    return shingled.distinct()


def jaccard_pairs(
    shingles: DataFrame, threshold: float = 0.5, candidates: DataFrame | None = None
) -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with shingle-set Jaccard >=
    threshold. If ``candidates`` (id_a, id_b) given, verify only those
    (the LSH fast path); else all pairs sharing any shingle (exact path).

    The fast path intersects THROUGH the candidate list — candidates
    join the a-side shingles on id_a, then the b-side on (id_b,
    shingle) — so its cost is |candidates| x shingles-per-doc, not the
    all-pairs shingle self-join (which is quadratic in hot-shingle
    frequency and is exactly what LSH exists to avoid at scale). A
    filter on the self-join would not push below the join, so the shape
    must differ, not just the predicate.
    """
    sizes = shingles.groupBy("id").agg(F.count("*").cast("long").alias("n"))
    a = shingles.select(F.col("id").alias("id_a"), "shingle")
    b = shingles.select(F.col("id").alias("id_b"), "shingle")
    if candidates is not None:
        cand = (
            candidates.select("id_a", "id_b")
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "shingle"], "left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_inter"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").cast("long").alias("n_inter"))
        )
    return (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "n": "n_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n": "n_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash60(tokens_tf: DataFrame, id_col: str = "id") -> DataFrame:
    """tokens_tf(id, term, tf) -> (id, simhash long): 60-bit SimHash —
    per bit, sign of the tf-weighted sum over term-hash bits."""
    bits = tokens_tf.select(
        F.col(id_col).alias("id"),
        F.col("tf"),
        term_hash60_col("term").alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit"),
    ).select(
        "id",
        "bit",
        # shiftright with a Column shift amount needs the SQL form
        F.expr(
            "CASE WHEN shiftright(h, bit) & 1 = 1 THEN CAST(tf AS BIGINT) "
            "ELSE -CAST(tf AS BIGINT) END"
        ).alias("signed"),
    )
    return (
        bits.groupBy("id", "bit")
        .agg(F.sum("signed").alias("s"))
        .groupBy("id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0,
                    F.expr("shiftleft(CAST(1 AS BIGINT), bit)"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )


def language_id_scores(
    documents: DataFrame, id_col: str, text_col: str, profiles: dict[str, list[str]]
) -> DataFrame:
    """Heuristic language ID: score = fraction of a language's marker
    terms present in the doc; winner by (score desc, lang asc).
    ``profiles``: lang -> marker token list (deterministic, public)."""
    from ..functions.tokenize import tokenize_col

    toks = documents.select(
        F.col(id_col).alias("id"),
        F.array_distinct(tokenize_col(text_col, remove_stopwords=False)).alias("toks"),
    )
    scored = toks.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(lang).alias("lang"),
                    (
                        F.size(
                            F.array_intersect(
                                "toks", F.lit(markers).cast("array<string>")
                            )
                        )
                        / F.lit(float(len(markers)))
                    ).alias("score"),
                )
                for lang, markers in sorted(profiles.items())
            ])
        ).alias("ls"),
    ).select("id", F.col("ls.lang").alias("lang"), F.col("ls.score").alias("score"))
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("lang"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "lang", "score")
    )


def quality_stats(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc quality signals: char count, token count (with and without
    stopwords), distinct-token ratio, punctuation ratio, mean token
    length — the standard cheap pretraining-quality features."""
    from ..functions.tokenize import tokenize_col

    raw = tokenize_col(text_col, remove_stopwords=False)
    filt = tokenize_col(text_col, remove_stopwords=True)
    return documents.select(
        F.col(id_col).alias("id"),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(raw).cast("long").alias("n_tokens"),
        F.size(filt).cast("long").alias("n_tokens_nostop"),
        (F.size(F.array_distinct(raw)) / F.greatest(F.size(raw), F.lit(1))).alias(
            "distinct_ratio"
        ),
        (
            (
                F.length(text_col)
                - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
            )
            / F.greatest(F.length(text_col), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.aggregate(
                raw,
                F.lit(0).cast("long"),
                lambda acc, t: acc + F.length(t).cast("long"),
            )
            / F.greatest(F.size(raw), F.lit(1))
        ).alias("mean_token_len"),
    )


def repetition_stats(documents: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc repetition signals (the Gopher/MassiveText-style filters a
    pretraining pipeline cuts boilerplate with): top_token_frac (mode
    token count / tokens), dup_bigram_frac and dup_trigram_frac
    (1 - distinct n-grams / n-grams). All JVM higher-order array
    functions over one projection of the scan — no shuffle, no Python.
    top_token_frac is O(tokens x distinct_tokens) per doc, fine for
    code/prose vocabularies; for pathological megadocs use an
    explode + groupBy(id) tf instead (the tf_postings shape)."""
    from ..functions.tokenize import tokenize_col

    raw = tokenize_col(text_col, remove_stopwords=False)

    def ngrams(arr, n):
        ln = F.greatest(F.size(arr) - (n - 1), F.lit(0))
        parts = [F.slice(arr, i + 1, ln) for i in range(n)]
        z = parts[0]
        for p in parts[1:]:
            z = F.zip_with(z, p, lambda a, b: F.concat(a, F.lit(" "), b))
        return z

    def dup_frac(grams):
        return F.when(F.size(grams) <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(grams)) / F.size(grams)
        )

    max_tf = F.array_max(
        F.transform(
            F.array_distinct(raw),
            lambda t: F.size(F.filter(raw, lambda x: x == t)),
        )
    )
    return documents.select(
        F.col(id_col).alias("id"),
        F.when(F.size(raw) <= 0, F.lit(0.0))
        .otherwise(max_tf / F.size(raw))
        .alias("top_token_frac"),
        dup_frac(ngrams(raw, 2)).alias("dup_bigram_frac"),
        dup_frac(ngrams(raw, 3)).alias("dup_trigram_frac"),
    )


def bpe_ish_token_count(
    documents: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, n_bpe_tokens) — BPE-ish proxy: words plus standalone
    punctuation marks, the usual pre-tokenizer regex."""
    return documents.select(
        F.col(id_col).alias("id"),
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(r"\w+|[^\w\s]"), 0)
        ).cast("long").alias("n_bpe_tokens"),
    )


def doc_fingerprint(tokens: DataFrame, id_col: str = "id", n: int = 3) -> DataFrame:
    """(id, fp_min, fp_xor, n_shingles) — shingle-hash fingerprint
    (winnowing-lite): min and xor of 60-bit shingle hashes."""
    sh = token_shingles(tokens.withColumnRenamed(id_col, "id"), "id", n)
    h = sh.select("id", term_hash60_col("shingle").alias("h"))
    return h.groupBy("id").agg(
        F.min("h").alias("fp_min"),
        # xor-fold via bit_xor aggregate
        F.expr("bit_xor(h)").alias("fp_xor"),
        F.count("*").cast("long").alias("n_shingles"),
    )
