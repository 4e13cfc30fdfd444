"""Document deduplication family for the training-data pipeline:
exact (hash-groupBy), MinHash-LSH near-dup, SimHash, n-gram Jaccard,
embedding-cosine near-dup. All JVM-side Column arithmetic over the seeded
hash family (functions/hashing.py) — deterministic and oracle-checkable.

Scale notes per variant:
  * exact: one map-side-combinable groupBy on md5(text) — the digest is
    computed in the scan projection, so the shuffle carries 32 bytes per
    row, not the document.
  * minhash: signatures are a narrow projection; the only wide op is the
    band self-join (see operators/blocking.py for the skew story).
  * simhash: narrow projection to one bigint per doc, then a groupBy on
    the simhash value (near-dups collide by construction).
  * ngram-jaccard: exact verification for candidate pairs only — never
    run pairwise on the full corpus.
  * embedding cosine: brute-force is O(n^2) — gated to candidate pairs or
    the LSH-bucketed path in operators/similarity.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from zh_ner_tf_spark.config import MINHASH_PRIME
from zh_ner_tf_spark.operators.blocking import block_entities


def exact_dup_groups(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical documents: (content_hash, n_dups,
    keep_id = min doc id). Only groups with >1 member are duplicates;
    all groups are returned (callers anti-join against keep_id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(key_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(key_col).alias("keep_id"),
        )
    )


def dedup_exact(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep the min-id representative of every identical-text group."""
    groups = exact_dup_groups(df, key_col, text_col)
    return df.join(
        groups.select(F.col("keep_id").alias(key_col)), key_col, "left_semi"
    )


def word_ngram_hashes(text: Column, n: int = 3) -> Column:
    """Distinct hashes of word n-grams (whitespace tokens).

    Frozen definition: gram hash = fold (acc*31 + token_hash) mod P over
    the n token hashes (token hash = polynomial char hash). Documents
    shorter than n tokens hash as one whole-document gram. Token-hash
    combination avoids building gram strings and re-folding their chars
    — the dominant cost of the naive formulation.
    """
    from zh_ner_tf_spark.functions.hashing import token_hashes

    toks = F.filter(F.split(text, " "), lambda t: t != "")
    th = token_hashes(toks)
    cnt = F.size(th)
    full = F.transform(
        F.sequence(F.lit(1), cnt - n + 1),
        lambda i: _combine_slice(th, i, n),
    )
    short = F.array(
        F.aggregate(
            th,
            F.lit(0).cast("bigint"),
            lambda acc, h: (acc * 31 + h) % MINHASH_PRIME,
        )
    )
    return F.array_distinct(F.when(cnt >= n, full).otherwise(short))


def _combine_slice(th: Column, i, n: int) -> Column:
    acc = F.lit(0).cast("bigint")
    for k in range(n):
        acc = (acc * 31 + F.element_at(th, i + k)) % MINHASH_PRIME
    return acc


def _gram_hashes_np(text: str | None, n: int, distinct: bool = True):
    """Distinct word-n-gram hashes of one document, vectorized in NumPy —
    the frozen spec of word_ngram_hashes / the DuckDB oracle _grams_sql:
    token hash = fold (acc*31 + codepoint) mod P over the token's chars;
    gram hash = fold (acc*31 + token_hash) mod P over n consecutive token
    hashes; docs with < n tokens (incl. zero) emit one whole-doc fold.

    The modular fold unrolls to sum(c_j * 31^(L-1-j)) mod P, so both
    levels are exact with term-wise mod + one reduction (every
    intermediate stays < 2^52, safe in int64)."""
    import numpy as np

    P = MINHASH_PRIME
    if text is None:
        return None
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    nonsp = codes != 32  # frozen tokenizer: split on single space
    if not nonsp.any():
        return [0]
    # token runs over the space mask
    bounded = np.concatenate(([False], nonsp, [False]))
    flips = np.flatnonzero(bounded[1:] != bounded[:-1])
    starts, ends = flips[::2], flips[1::2]
    lens = ends - starts
    # per-char exponent = (token_end - 1 - idx); term-wise mod keeps sums
    # < n_chars * 2^31
    pow31 = np.ones(int(lens.max()), dtype=np.int64)
    for k in range(1, len(pow31)):
        pow31[k] = pow31[k - 1] * 31 % P
    idx = np.flatnonzero(nonsp)
    exp = np.repeat(ends - 1, lens) - idx
    terms = codes[idx] * pow31[exp] % P
    th = np.add.reduceat(terms, np.cumsum(np.concatenate(([0], lens[:-1])))) % P
    m = len(th)
    if m < n:
        h = 0
        for v in th.tolist():
            h = (h * 31 + v) % P
        return [h]
    gh = th[: m - n + 1].copy()
    for k in range(1, n):
        gh = (gh * 31 + th[k : m - n + 1 + k]) % P
    return np.unique(gh).tolist() if distinct else gh.tolist()


def _gram_hashes_batch(texts, n: int, distinct: bool = True) -> list:
    """Batch form of _gram_hashes_np: ONE segmented NumPy pass over the
    whole Arrow batch instead of a per-document Python call. All non-null
    texts are joined with a single space (the frozen token delimiter, so
    tokens — and therefore grams — can never span documents), encoded
    once, and token/gram hashing, cross-document-gram masking, the
    short-doc whole-doc fold, and the per-doc distinct all run as global
    array ops; the only per-document step left is the final .tolist()
    split. Value-equal to [_gram_hashes_np(t, n, distinct) for t in
    texts] (tested exhaustively against the spec function)."""
    import numpy as np

    P = MINHASH_PRIME
    texts = list(texts)
    out: list = [None] * len(texts)
    live = [i for i, t in enumerate(texts) if t is not None]
    if not live:
        return out
    docs = [texts[i] for i in live]
    lens = np.fromiter((len(t) for t in docs), dtype=np.int64, count=len(docs))
    combined = " ".join(docs)
    codes = np.frombuffer(
        combined.encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    # doc d occupies [doc_starts[d], doc_starts[d] + lens[d]) in `codes`
    doc_starts = np.concatenate(([0], np.cumsum(lens[:-1] + 1)))
    D = len(docs)
    nonsp = codes != 32  # separator spaces also end the previous doc's token
    if not nonsp.any():
        for i in live:
            out[i] = [0]
        return out
    bounded = np.concatenate(([False], nonsp, [False]))
    flips = np.flatnonzero(bounded[1:] != bounded[:-1])
    starts, ends = flips[::2], flips[1::2]
    tlens = ends - starts
    tok_doc = np.searchsorted(doc_starts, starts, side="right") - 1
    pow31 = np.ones(int(tlens.max()), dtype=np.int64)
    for k in range(1, len(pow31)):
        pow31[k] = pow31[k - 1] * 31 % P
    idx = np.flatnonzero(nonsp)
    exp = np.repeat(ends - 1, tlens) - idx
    terms = codes[idx] * pow31[exp] % P
    th = np.add.reduceat(
        terms, np.cumsum(np.concatenate(([0], tlens[:-1])))
    ) % P
    tc = np.bincount(tok_doc, minlength=D)  # tokens per doc (0 for empty)
    M = len(th)

    # full grams: global rolling fold, then mask grams that cross a doc
    # boundary (gram at global token j is valid iff tokens j..j+n-1 are
    # all in tok_doc[j]'s doc)
    per_doc_lists: list[list[int] | None] = [None] * D
    if M >= n:
        gh = th[: M - n + 1].copy()
        for k in range(1, n):
            gh = (gh * 31 + th[k: M - n + 1 + k]) % P
        valid = tok_doc[: M - n + 1] == tok_doc[n - 1:]
        g_doc = tok_doc[: M - n + 1][valid]
        g_val = gh[valid]
        if distinct:
            order = np.lexsort((g_val, g_doc))
            g_doc, g_val = g_doc[order], g_val[order]
            keep = np.ones(len(g_val), dtype=bool)
            keep[1:] = (g_doc[1:] != g_doc[:-1]) | (g_val[1:] != g_val[:-1])
            g_doc, g_val = g_doc[keep], g_val[keep]
        counts = np.bincount(g_doc, minlength=D)
        splits = np.split(g_val, np.cumsum(counts)[:-1])
    else:
        counts = np.zeros(D, dtype=np.int64)
        splits = [np.empty(0, dtype=np.int64)] * D

    # short docs (tc < n, incl. 0 tokens): one whole-doc fold over their
    # token hashes, vectorized across docs with <= n-1 fold steps
    short = np.flatnonzero(tc < n)
    if len(short):
        tok_start = np.concatenate(([0], np.cumsum(tc[:-1])))
        h = np.zeros(len(short), dtype=np.int64)
        stc = tc[short]
        for k in range(int(stc.max()) if len(stc) else 0):
            has = stc > k
            pos = tok_start[short[has]] + k
            h[has] = (h[has] * 31 + th[pos]) % P
        for j, d in enumerate(short):
            per_doc_lists[d] = [int(h[j])]
    for d in range(D):
        if per_doc_lists[d] is None:
            per_doc_lists[d] = splits[d].tolist()
    for j, i in enumerate(live):
        out[i] = per_doc_lists[j]
    return out


def gram_hashes_udf(n: int, distinct: bool = True):
    """Arrow-vectorized pandas UDF: text -> array<bigint> of word-n-gram
    hashes (spec: _gram_hashes_np; execution: _gram_hashes_batch, one
    segmented pass per Arrow batch) — distinct set by default, positional
    order with ``distinct=False`` (the winnowing input)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _grams(texts: pd.Series) -> pd.Series:
        return pd.Series(_gram_hashes_batch(texts, n, distinct), dtype=object)

    return _grams


def _seg_starts(counts):
    """reduceat segment starts for per-doc slices of a concat array."""
    import numpy as np

    return np.concatenate(([0], np.cumsum(counts[:-1])))


def minhash_bands_gen(
    key_col: str, text_col: str, n: int, fam: list[tuple[int, int]],
    n_bands: int,
):
    """mapInPandas generator: (key, text) batches -> flat (key, band_id,
    band_value) MinHash band rows, the whole sketch (grams -> per-perm
    mins -> band packing) computed per document inside the UDF — NO
    explode + groupBy shuffle (the r8 shape shuffled every (doc, gram)
    row to aggregate mins), and the output columns are plain int64
    ndarrays (no per-row Python structs on the Arrow boundary).
    Integer arithmetic identical to the old aggregate form:
    min((a*gh + b) % P) over the distinct gram hashes, band value folds
    rows-per-band mins as v*P + s; NULL-text docs emit no rows."""
    import numpy as np

    P = MINHASH_PRIME
    n_hashes = len(fam)
    rows_per_band = n_hashes // n_bands
    a_arr = np.array([a for a, _ in fam], dtype=np.int64)
    b_arr = np.array([b for _, b in fam], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            grams = _gram_hashes_batch(pdf[text_col], n, distinct=True)
            live = [i for i, g in enumerate(grams) if g is not None]
            if not live:
                continue
            counts = np.fromiter((len(grams[i]) for i in live),
                                 dtype=np.int64, count=len(live))
            flat = np.concatenate([np.asarray(grams[i], dtype=np.int64)
                                   for i in live])
            starts = _seg_starts(counts)
            # [D, n_hashes] per-doc mins; a*gh < P^2 < 2^62 stays in
            # int64, exactly the JVM bigint arithmetic
            mins = np.stack([
                np.minimum.reduceat((a_arr[j] * flat + b_arr[j]) % P, starts)
                for j in range(n_hashes)
            ], axis=1)
            vals = np.zeros((len(live), n_bands), dtype=np.int64)
            for band in range(n_bands):
                v = np.zeros(len(live), dtype=np.int64)
                for r in range(rows_per_band):
                    v = v * P + mins[:, band * rows_per_band + r]
                vals[:, band] = v
            keys = pdf[key_col].to_numpy()[live]
            yield pd.DataFrame({
                key_col: np.repeat(keys, n_bands),
                "band_id": np.tile(
                    np.arange(n_bands, dtype=np.int64), len(live)
                ),
                "band_value": vals.ravel(),
            })

    return gen


def simhash_udf(n: int, bits: int):
    """Arrow-vectorized pandas UDF: text -> simhash bigint (NULL for
    NULL text). Per-bit majority votes over the document's DISTINCT
    word-n-gram hashes — the same integers simhash_table's groupBy
    votes summed, computed per document with no shuffle."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _simhash(texts: pd.Series) -> pd.Series:
        grams = _gram_hashes_batch(texts, n, distinct=True)
        live = [i for i, g in enumerate(grams) if g is not None]
        out = np.full(len(grams), None, dtype=object)
        if live:
            counts = np.fromiter((len(grams[i]) for i in live),
                                 dtype=np.int64, count=len(live))
            flat = np.concatenate([np.asarray(grams[i], dtype=np.int64)
                                   for i in live])
            starts = _seg_starts(counts)
            val = np.zeros(len(live), dtype=np.int64)
            for b in range(bits):
                votes = np.add.reduceat(
                    ((flat >> b) & 1) * 2 - 1, starts
                )
                val += np.where(votes > 0, 1 << b, 0)
            for d, i in enumerate(live):
                out[i] = int(val[d])
        return pd.Series(out, dtype=object)

    return _simhash


def winnow_gen(key_col: str, text_col: str, n: int, w: int):
    """mapInPandas generator: (key, text) batches -> flat (key, fp_pos,
    fp_hash) winnowing fingerprint rows, the whole sketch computed
    inside the UDF with ONE segmented NumPy pass over the batch. Same
    integer encoding as the window form: per position the min over w
    consecutive encoded grams ``gh * 2^32 + (2^32 - 1 - pos)`` (ties to
    the RIGHTMOST position), positions capped at max(m - w, 0),
    distinct (pos, hash) pairs per doc. The sliding min runs globally
    over the batch's concatenated gram stream; windows that would cross
    a document boundary are masked out, and docs with fewer than w
    grams take a per-segment min — so there is no per-document Python
    loop and no per-row struct objects on the Arrow boundary. NULL-text
    docs emit no rows."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    mask_pos = (1 << 32) - 1

    def gen(batches):
        for pdf in batches:
            grams = _gram_hashes_batch(pdf[text_col], n, distinct=False)
            live = [i for i, g in enumerate(grams) if g is not None]
            if not live:
                continue
            counts = np.fromiter((len(grams[i]) for i in live),
                                 dtype=np.int64, count=len(live))
            flat = np.concatenate([np.asarray(grams[i], dtype=np.int64)
                                   for i in live])
            starts = _seg_starts(counts)
            total = len(flat)
            doc_of = np.repeat(np.arange(len(live)), counts)
            pos_in_doc = np.arange(total, dtype=np.int64) - np.repeat(
                starts, counts
            )
            enc = flat * (1 << 32) + (mask_pos - pos_in_doc)
            # full windows: global sliding min, keep windows whose ends
            # fall in the same doc (start pos then automatically
            # <= m - w, the window form's position cap)
            if total >= w:
                wins = sliding_window_view(enc, w).min(axis=1)
                valid = doc_of[: total - w + 1] == doc_of[w - 1:]
                vdoc = doc_of[: total - w + 1][valid]
                vval = wins[valid]
            else:
                vdoc = np.empty(0, dtype=np.int64)
                vval = np.empty(0, dtype=np.int64)
            # short docs (< w grams) winnow their single whole-length
            # window — a per-segment min
            short = np.flatnonzero(counts < w)
            if len(short):
                seg_mins = np.minimum.reduceat(enc, starts)
                vdoc = np.concatenate([vdoc, short])
                vval = np.concatenate([vval, seg_mins[short]])
            # distinct (doc, fingerprint) pairs
            order = np.lexsort((vval, vdoc))
            vdoc, vval = vdoc[order], vval[order]
            if len(vval):
                keep = np.ones(len(vval), dtype=bool)
                keep[1:] = (vdoc[1:] != vdoc[:-1]) | (vval[1:] != vval[:-1])
                vdoc, vval = vdoc[keep], vval[keep]
            keys = pdf[key_col].to_numpy()[live]
            yield pd.DataFrame({
                key_col: keys[vdoc],
                "fp_pos": mask_pos - (vval & mask_pos),
                "fp_hash": vval >> 32,
            })

    return gen


def ngram_hash_rows(
    df: DataFrame, key_col: str, text_col: str, n: int
) -> DataFrame:
    """(_k, gh) rows: distinct word-n-gram hashes, exploded.

    Construction: one Arrow-batched pandas UDF computes the per-doc gram
    hash array in a single pass (NumPy-vectorized segmented polynomial
    hash), then a JVM-side explode. NO shuffle — at crawl scale the
    previous relational form (explode tokens + window ``lead``) shuffled
    every token of every document just to build per-doc sketches; this
    keeps sketch construction embarrassingly parallel so every downstream
    sketch aggregate (simhash votes, minhash mins, jaccard joins) gets
    map-side partials against the data's existing partitioning.
    (The narrow all-Column array form is still wrong for a different
    reason: Catalyst's CollapseProject re-inlines the token-hash array
    into every element_at reference — quadratic per document.)
    Documents with fewer than n tokens (including zero) contribute one
    whole-doc fold (matching word_ngram_hashes / the oracle SQL)."""
    return df.select(
        F.col(key_col).alias("_k"),
        F.explode(gram_hashes_udf(n)(F.col(text_col))).alias("gh"),
    )


def simhash_table(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    n: int = 2,
) -> DataFrame:
    """(key, simhash) with the whole sketch computed inside ONE
    Arrow-vectorized pass (simhash_udf) — zero shuffle. A document's
    simhash is a pure function of its text, so the r8 shape (explode
    every gram row, shuffle them to a per-doc vote aggregate) moved
    |corpus tokens| rows for nothing; this form is embarrassingly
    parallel at any scale. Same integers (per-bit majority votes over
    distinct gram hashes); NULL-text docs emit no row, exactly like the
    groupBy form they contributed no gram rows to."""
    from zh_ner_tf_spark.plans.parallel import ensure_parallelism

    return ensure_parallelism(df.select(key_col, text_col)).select(
        F.col(key_col),
        simhash_udf(n, bits)(F.col(text_col)).alias("simhash"),
    ).filter(F.col("simhash").isNotNull())


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (src, dst) candidate pairs.

    Fully relational: |A∩B| is an equi-join of the exploded gram-hash
    rows on (pair, gh), |A∪B| = |A| + |B| - |A∩B| — no per-pair array
    materialization, so it holds up when documents have millions of
    grams or one doc appears in many candidate pairs."""
    g = ngram_hash_rows(df, key_col, text_col, n)
    sizes = g.groupBy("_k").agg(F.count(F.lit(1)).alias("_n"))
    ga = g.select(F.col("_k").alias("src"), "gh")
    gb = g.select(F.col("_k").alias("dst"), "gh")
    inter = (
        pairs.join(ga, "src")
        .join(gb, ["dst", "gh"])
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    na = sizes.withColumnRenamed("_k", "src").withColumnRenamed("_n", "_na")
    nb = sizes.withColumnRenamed("_k", "dst").withColumnRenamed("_n", "_nb")
    return (
        pairs.join(na, "src")
        .join(nb, "dst")
        .join(inter, ["src", "dst"], "left")
        .na.fill(0, ["_inter"])
        .select(
            "src",
            "dst",
            F.round(
                F.col("_inter").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def simhash(text: Column, bits: int = 16, n: int = 2) -> Column:
    """SimHash over word n-gram hashes: bit b of the output is the
    majority vote of bit b across the document's n-gram hashes."""
    hashes = word_ngram_hashes(text, n)

    def _vote(bit: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, bit) % 2 == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    out = F.lit(0).cast("bigint")
    for b in range(bits):
        votes = F.aggregate(hashes, F.lit(0).cast("bigint"), _vote(b))
        out = out + F.when(votes > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return out


def simhash_groups(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text",
    bits: int = 16, n: int = 2,
) -> DataFrame:
    """(simhash, n_docs, keep_id): documents colliding on the full
    simhash are near-dup candidates (Hamming distance 0 buckets)."""
    return (
        df.select(F.col(key_col), simhash(F.col(text_col), bits, n).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(key_col).alias("keep_id"))
    )


def minhash_near_dups(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs over document text (reuses the
    entity-blocking operator — same algorithm, document granularity)."""
    return block_entities(
        df.select(F.col(key_col).alias("entity_id"), F.col(text_col).alias("surface")),
        threshold=threshold,
    )


def positional_gram_rows(
    df: DataFrame, key_col: str, text_col: str, n: int
) -> DataFrame:
    """(_k, pos, gh) rows: word-n-gram hashes in POSITIONAL order (not
    deduped) — the input sequence winnowing slides its window over.
    Same Arrow-vectorized construction as ngram_hash_rows; no shuffle.
    (Spec/test path since r9 — winnow_fingerprints computes the whole
    sketch in-UDF and no longer explodes positional rows.)"""
    return df.select(
        F.col(key_col).alias("_k"),
        F.posexplode(
            gram_hashes_udf(n, distinct=False)(F.col(text_col))
        ).alias("pos", "gh"),
    )


def winnow_fingerprints(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS;
    public algorithm): slide a window of ``w`` consecutive word-n-gram
    hashes and select each window's minimum, ties broken by RIGHTMOST
    position; the fingerprint is the distinct (position, hash) set.
    Guarantee: any shared substring of >= n+w-1 tokens between two
    documents shares at least one fingerprint hash.

    Spark shape (r9): the ENTIRE sketch — positional gram hashes,
    sliding-window min with rightmost tie-break via the encoding
    ``gh * 2^32 + (2^32-1 - pos)`` (gh < 2^31 = MINHASH_PRIME, so the
    encoding fits int64 and orders by (gh asc, pos desc)), and the
    per-doc distinct — runs inside ONE Arrow-vectorized pass
    (winnow_udf): a document's fingerprint set is a pure function of
    its text, so the previous shape (explode every positional gram,
    shuffle for the per-doc window sort, shuffle again for distinct)
    moved every token of every document for per-doc-local work. Zero
    shuffles now; cross-doc duplicates are impossible (the doc key is
    part of every output row), so the in-UDF distinct is the whole
    distinct. Documents shorter than ``w`` grams winnow their single
    whole-length window. The encoding is still expressible identically
    in the DuckDB oracle.

    Output: (key_col, fp_pos, fp_hash) distinct rows.
    """
    from zh_ner_tf_spark.plans.parallel import ensure_parallelism

    key_t = df.schema[key_col].dataType.simpleString()
    return ensure_parallelism(df.select(key_col, text_col)).mapInPandas(
        winnow_gen(key_col, text_col, n, w),
        schema=f"{key_col} {key_t}, fp_pos bigint, fp_hash bigint",
    )


def embedding_near_dups(
    emb: DataFrame,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    pairs: DataFrame | None = None,
    n_bits: int | None = None,
    n_bands: int | None = None,
    n_rows: int | None = None,
    dim: int | None = None,
    int8_rescore: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. With ``pairs`` given, verifies
    only those; otherwise falls back to the LSH-bucketed candidate
    generator in operators/similarity.py (never full O(n^2)).
    n_bits/n_bands default to srp_params(corpus size) — bucket occupancy
    stays ~constant as the corpus grows (wider bands cut false
    candidates exponentially while a high threshold keeps near-dup
    recall), and the band self-join is census-salted against residual
    hot buckets (see lsh_candidates).

    ``int8_rescore=True``: both vector-carrying joins (src side and dst
    side of the rescore) move int8 codes instead of the float vectors —
    4-8x fewer shuffle bytes (4x for float32-stored vectors, 8x for
    float64; bench-measured) on the two exchanges that dominate this
    operator at crawl scale — and the cosine runs directly on the code
    arrays: cosine is scale-invariant (cos(s_a*qa, s_b*qb) ==
    cos(qa, qb) for positive scales; a scale-0 vector has all-zero
    codes either way), so the per-row scale is neither carried nor
    applied. The candidate pair set is unchanged (banding stays on the
    float vectors); pairs whose true cosine sits within the int8
    rounding error of ``threshold`` may flip, which the driver row
    gates on pair-set agreement >= 0.9 (VERDICT r6 item 2)."""
    from zh_ner_tf_spark.operators.similarity import (
        dot_expr,
        lsh_candidates,
        norm_expr,
        quantize_embeddings,
    )

    if pairs is None:
        pairs = lsh_candidates(emb, key_col, vec_col,
                               n_bits=n_bits, n_bands=n_bands,
                               n_rows=n_rows, dim=dim)
    # Norms are hoisted into the per-VECTOR side projections instead of
    # being re-derived per PAIR inside cosine_expr: a vector that
    # appears in m candidate pairs had its norm fold interpreted m
    # times (higher-order functions are CodegenFallback), which was
    # 2/3 of the rescore's per-pair expression work — at sf0.1 the
    # rescore evaluated ~50M interpreted lambda steps over 132k pairs
    # (r9 measurement). dot/(na*nb) multiplies the SAME doubles in the
    # same order as cosine_expr, so the rounded value is bit-identical.
    if int8_rescore:
        qed = quantize_embeddings(emb, vec_col, "_q8", "_s8")
        a = qed.select(F.col(key_col).alias("src"),
                       F.col("_q8").alias("_qa"),
                       norm_expr(F.col("_q8")).alias("_na"))
        b = qed.select(F.col(key_col).alias("dst"),
                       F.col("_q8").alias("_qb"),
                       norm_expr(F.col("_q8")).alias("_nb"))
        joined = pairs.select("src", "dst").join(a, "src").join(b, "dst")
        cos = dot_expr(F.col("_qa"), F.col("_qb")) / (
            F.col("_na") * F.col("_nb")
        )
        return (
            joined.select("src", "dst", F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    a = emb.select(F.col(key_col).alias("src"), F.col(vec_col).alias("_va"),
                   norm_expr(F.col(vec_col)).alias("_na"))
    b = emb.select(F.col(key_col).alias("dst"), F.col(vec_col).alias("_vb"),
                   norm_expr(F.col(vec_col)).alias("_nb"))
    joined = pairs.select("src", "dst").join(a, "src").join(b, "dst")
    cos = dot_expr(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        joined.select("src", "dst", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int | None = None,
    n_bands: int | None = None,
    seed: int | None = None,
) -> DataFrame:
    """Near-duplicate document CLUSTERING — the decision table a crawl
    dedup stage actually consumes: every document gets a ``cluster_id``
    (= the min doc id connected to it through the MinHash-LSH candidate
    pair graph; its own id if it collides with nothing) and a ``keep``
    flag marking the cluster representative. ``filter(keep = 1)``
    collapses the corpus to one copy per near-dup cluster; the
    (doc -> cluster) map keys provenance for the dropped copies.

    Composition, not new machinery: lsh_doc_pairs (exact-dup-collapsed,
    salted band self-join) supplies the candidate edges and
    connected_components (pointer-jumping min-label) closes them
    transitively — near-dup similarity is not transitive, so a cluster
    is an equivalence closure OVER candidate pairs, the standard crawl
    dedup semantic (collapsing A~B and B~C into one cluster even when
    A,C never collide).

    Scale shape: documents that collide with nothing never enter the CC
    (they resolve through the left join's coalesce), the pair graph is
    band-bucketed (never all-pairs), and CC is O(log diameter)
    shuffles on doc-id keys."""
    from zh_ner_tf_spark.config import (
        MINHASH_BANDS,
        MINHASH_NUM_HASHES,
        SEED,
    )
    from zh_ner_tf_spark.operators.blocking import lsh_doc_pairs
    from zh_ner_tf_spark.operators.components import connected_components

    pairs = lsh_doc_pairs(
        docs, id_col, text_col, k,
        MINHASH_NUM_HASHES if n_hashes is None else n_hashes,
        MINHASH_BANDS if n_bands is None else n_bands,
        SEED if seed is None else seed,
    )
    comp = connected_components(pairs)
    return (
        docs.select(F.col(id_col))
        .join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn(
            "keep", (F.col(id_col) == F.col("cluster_id")).cast("bigint")
        )
    )


def near_dup_keep_best(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str = "n_chars",
    k: int = 3,
    n_hashes: int | None = None,
    n_bands: int | None = None,
    seed: int | None = None,
) -> DataFrame:
    """``near_dup_clusters`` with a QUALITY-AWARE representative: the
    kept copy of each near-dup cluster is the member with the highest
    ``quality_col`` (NULL quality always loses), ties broken by the
    lowest id — the decision a real crawl dedup stage makes (keep the
    longest / highest-scoring version of a page, not whichever copy
    happened to get the smallest id). ``cluster_id`` stays the min
    member id (a stable cluster key independent of quality drift
    between crawls); only the ``keep`` flag moves.

    The winner per cluster is one ``max(struct(quality, -id))``
    aggregate — map-side combinable, no window over the corpus — joined
    back on ``cluster_id``; cluster sizes bound the join's skew (a
    pathological mega-cluster is a dedup-parameter bug upstream, not a
    plan hazard here)."""
    clusters = near_dup_clusters(
        docs, id_col, text_col, k, n_hashes, n_bands, seed
    ).drop("keep")
    q = F.coalesce(F.col(quality_col).cast("bigint"), F.lit(-1))
    labeled = clusters.join(
        docs.select(F.col(id_col), q.alias("_q")), id_col
    )
    winners = labeled.groupBy("cluster_id").agg(
        F.max(F.struct(F.col("_q"), (-F.col(id_col)).alias("_nid")))
        .alias("_best")
    )
    return (
        labeled.join(winners, "cluster_id")
        .select(
            F.col(id_col),
            F.col("cluster_id"),
            F.col("_q").alias("quality"),
            (F.col(id_col) == -F.col("_best._nid")).cast("bigint")
            .alias("keep"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_gram_df: int | None = None,
    min_containment_ppm: int = 0,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered document pairs where one
    document's word-n-gram set is (mostly) CONTAINED in another's —
    the quote / boilerplate-copy / superset-page relation MinHash
    misses by design (Jaccard between a snippet and the long page that
    embeds it is tiny even at containment 1.0, so band collision
    probability vanishes; containment is the right lens for "A copies
    from B" at very different lengths — Broder's resemblance vs
    containment distinction).

      containment_ppm(src, dst)
          = (1_000_000 * |G_src ∩ G_dst|) div |G_src|

    over DISTINCT word-n-gram hashes (ngram_hash_rows — the exact gram
    space the MinHash / ngram-Jaccard family and their DuckDB replicas
    use), on the BIGINT ppm lattice: no float anywhere, so the oracle
    matches value-for-value. One row per ORDERED pair (src != dst)
    sharing >= 1 surviving gram and scoring >= ``min_containment_ppm``
    (both directions emitted — containment is the asymmetry).

    Candidate generation is the linking-style posting-list self-join,
    never all-pairs: docs pair only through shared gram keys, and
    ``max_gram_df`` bans grams present in more than that many
    documents (the df census is gram-space-sized, broadcast into the
    anti-joins) so no single hot gram — boilerplate phrases, navigation
    chrome — can fan out quadratically. With pruning active, BOTH the
    intersection and the |G_src| denominator are computed over the
    pruned gram space (the linking.py rule: containment stays exact
    over the pruned space; a mixed-space ratio could exceed 1.0).

    Scale shape (100 TB): per-doc gram rows build shuffle-free (Arrow
    batch per partition); the self-join shuffles on the gram key with
    per-key fan-out <= max_gram_df^2; shared counts and gram counts
    are map-side-combinable groupBys. Skewed residual keys fall to AQE
    skew-join. Callers wanting the near-dup-cluster treatment feed the
    output pairs (filtered to one direction) into connected_components
    like lsh_doc_pairs."""
    from zh_ner_tf_spark.operators.linking import banned_grams

    g = ngram_hash_rows(
        docs.filter(F.col(text_col).isNotNull()), id_col, text_col, n
    ).withColumnRenamed("gh", "_gram")
    if max_gram_df is not None:
        banned = banned_grams(g, max_gram_df)
        g = g.join(F.broadcast(banned), "_gram", "left_anti")
    sizes = g.groupBy("_k").agg(F.count(F.lit(1)).alias("_n"))
    ga = g.select(F.col("_k").alias("src"), "_gram")
    gb = g.select(F.col("_k").alias("dst"), "_gram")
    shared = (
        ga.join(gb, "_gram")
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("_shared"))
    )
    na = sizes.select(F.col("_k").alias("src"), F.col("_n").alias("_n_src"))
    return (
        shared.join(na, "src")
        .withColumn(
            "containment_ppm",
            F.expr("(CAST(1000000 AS BIGINT) * _shared) div _n_src"),
        )
        .filter(F.col("containment_ppm") >= min_containment_ppm)
        .select(
            "src", "dst",
            F.col("_shared").alias("shared_grams"),
            F.col("_n_src").alias("src_grams"),
            "containment_ppm",
        )
    )
