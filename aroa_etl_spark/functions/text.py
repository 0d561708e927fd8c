"""Text-analysis column functions for training-data pipelines:
tokenization, shingling, language ID, quality scoring, fingerprinting.

All pure ``pyspark.sql.functions`` column expressions (JVM-side,
whole-stage-codegen'd) — no Python in the hot path. Each has an exact
DuckDB-SQL equivalent used by the catalog oracles, so semantics are
pinned cross-engine:

- tokens:       whitespace split of lower(trim(text)), empties dropped
- shingles:     sliding word n-grams joined with a single space
- minhash:      universal-hash family — one md5 base hash per shingle
                (first 8 hex chars), then (A_j·h + B_j) mod P per
                permutation; md5 is byte-identical in Spark and DuckDB
                and the affine arithmetic is overflow-free BIGINT, so
                signatures are deterministic across engines
- winnowing:    rolling-hash fingerprint set (window minima over the
                shingle-hash sequence) for partial-overlap detection
- simhash32:    32-bit SimHash over tokens; token hash = first 8 hex
                chars of md5 as uint32, bit-majority vote
- fingerprint:  md5 of the sorted distinct token set (the
                "normalized-bag" document fingerprint)
- language ID:  stopword-hit-ratio heuristic over small per-language
                broadcast vocabularies
- quality:      length / punctuation-ratio / stopword-ratio /
                mean-token-length features + a composite score
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword vocabularies (public common function words).
# Deliberately small: the heuristic is "which vocabulary hits most
# tokens", not a trained model.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es": ("el", "la", "los", "las", "y", "de", "un", "una", "es", "que"),
}

_PUNCT_RE = r"[^\w\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of lower(trim(text)), empty strings removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def shingles_from(toks: Column | str, n: int = 3) -> Column:
    """Sliding word n-grams over an ALREADY-COMPUTED token array column.

    The token array MUST be a materialized column (its own projection),
    not an inline expression: ``slice`` runs once per shingle inside the
    transform lambda, and lambda bodies are re-evaluated per element
    with no common-subexpression elimination — an inline tokenizer
    would re-split the text O(doc_len) times (measured 5× slowdown)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def shingles(col: Column | str, n: int = 3) -> Column:
    """Sliding word n-grams: [t0..tn-1, t1..tn, ...]; empty array when
    the document has fewer than n tokens. Convenience form — hot paths
    must materialize ``tokens`` first and use ``shingles_from`` (see
    the warning there)."""
    return shingles_from(tokens(col), n)


# Universal-hash minhash family: one strong hash per shingle, then
# perm_j(h) = (A_j·h + B_j) mod P. P is the smallest prime > 2^32; h is
# the first 8 md5 hex chars (< 2^32) and A_j < 2^30, so A_j·h + B_j
# stays < 2^63 — identical overflow-free BIGINT arithmetic in Spark and
# DuckDB, keeping the whole LSH pipeline oracle-checkable bit-for-bit.
# One md5 per shingle instead of num_perm (measured 3.5× on the
# signature stage at sf0.1).
MINHASH_P = 4294967311
MINHASH_A = [2 * (j + 1) * 15485863 + 1 for j in range(64)]
MINHASH_B = [((j + 1) * 32452843) % MINHASH_P for j in range(64)]


def shingle_hashes(sh: Column | str) -> Column:
    """int64 base hash per shingle (first 8 md5 hex chars). Materialize
    in its own projection before ``minhash_from_hashes`` — referencing
    it per permutation would duplicate the md5 transform."""
    sh = F.col(sh) if isinstance(sh, str) else sh
    return F.transform(
        sh, lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
    )


def minhash_from_hashes(hh: Column | str, num_perm: int = 8) -> Column:
    """Minhash signature (array<long>) over a materialized base-hash
    array: per permutation, the min of the affine rehash — cheap long
    arithmetic inside whole-stage codegen."""
    hh = F.col(hh) if isinstance(hh, str) else hh

    def perm(j: int) -> Column:
        a, b = MINHASH_A[j], MINHASH_B[j]
        return F.array_min(
            F.transform(hh, lambda v: (v * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P))
        )

    return F.array(*[perm(j).alias(f"mh{j}") for j in range(num_perm)])


def minhash_from(sh: Column | str, num_perm: int = 8) -> Column:
    """Minhash signature over an ALREADY-COMPUTED shingle array column.

    Convenience composition of ``shingle_hashes`` + ``minhash_from_hashes``
    in one expression — fine for one-off use; hot paths should
    materialize the hash array in its own projection (see
    operators/dedup.py) so the md5 transform is evaluated once, not
    once per permutation.
    """
    return minhash_from_hashes(shingle_hashes(sh), num_perm)


def minhash_signature(col: Column | str, num_perm: int = 8, n: int = 3) -> Column:
    """Array of ``num_perm`` minhash values over word n-gram shingles.

    NOTE: inlines the whole shingle pipeline per permutation — fine for
    one-off expressions; hot paths materialize tokens, shingles, and
    base hashes in separate projections (see operators/dedup.py).
    """
    return minhash_from(shingles(col, n), num_perm)


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Array of ``bands`` bucket keys: band index || md5 of the band's
    concatenated signature slice. Docs sharing ANY key are LSH
    candidates."""
    return F.array(
        *[
            F.concat(
                F.lit(f"{b}:"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            signature[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ),
            )
            for b in range(bands)
        ]
    )


def token_hashes(col: Column | str) -> Column:
    """Per-token 32-bit hashes (first 8 md5 hex chars as uint32) — the
    input of simhash voting. Materialize this once; md5 is the expensive
    part."""
    return F.transform(
        tokens(col), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    )


def simhash32_from(h: Column | str) -> Column:
    """32-bit SimHash from an ALREADY-COMPUTED token-hash array (see
    ``token_hashes``): each bit position votes +1/-1 per token, majority
    sign wins. 32 integer array folds over a materialized array — no
    hash recomputation."""
    h = F.col(h) if isinstance(h, str) else h

    def vote(b: int) -> Column:
        acc = F.aggregate(
            h,
            F.lit(0).cast("long"),
            lambda a, x: a
            + F.when(F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        return F.when(acc > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))

    total = vote(0)
    for b in range(1, 32):
        total = total + vote(b)
    return total


def simhash32(col: Column | str) -> Column:
    """32-bit SimHash over whitespace tokens.

    Token hash = first 8 md5 hex chars as uint32 (conv base 16). Each of
    the 32 bit positions votes +1/-1 per token; the simhash bit is the
    majority sign (strictly positive sum → 1). Expressible identically
    in DuckDB SQL, so exact-oracle-checkable. Empty docs → 0.

    NOTE: inlines the md5 token-hash pipeline into every bit vote — hot
    paths should materialize ``token_hashes`` first and use
    ``simhash32_from`` (see operators/dedup.py).
    """
    return simhash32_from(token_hashes(col))


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 over the sorted distinct token set —
    robust to word order and duplication (the 'normalized bag'
    fingerprint; reference-free extension for training-data dedup)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def stopword_hits(col: Column | str, lang: str) -> Column:
    """Number of tokens that are stopwords of ``lang``."""
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(vocab, t)))


def detect_language(col: Column | str) -> Column:
    """Language with the highest stopword-hit count; 'und' (undetermined)
    when no vocabulary hits. Ties break by language order (en, de, fr,
    es — first max wins, matching array_position's first-occurrence).

    Implemented as an array argmax rather than a when-fold: a fold
    nests each hit count into every later branch, duplicating the
    tokenize+filter subtree exponentially in the number of languages."""
    hits = F.array(*[stopword_hits(col, lang) for lang in STOPWORDS])
    langs = F.array(*[F.lit(lang) for lang in STOPWORDS])
    m = F.array_max(hits)
    return F.when(m <= 0, F.lit("und")).otherwise(
        F.element_at(langs, F.array_position(hits, m).cast("int"))
    )


def punct_ratio(col: Column | str) -> Column:
    """Punctuation characters / total characters (0 for empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    p = F.length(F.regexp_replace(c, r"[\w\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(p.cast("double") / n.cast("double"))


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        stopword_hits(col, lang).cast("double") / n.cast("double")
    )


def mean_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(n == 0, F.lit(0.0)).otherwise(total.cast("double") / n.cast("double"))


def quality_features(col: Column | str, lang: str = "en") -> list[Column]:
    """The standard quality-signal columns for a documents table."""
    return [
        F.length(F.col(col) if isinstance(col, str) else col).alias("q_n_chars"),
        token_count(col).alias("q_n_tokens"),
        punct_ratio(col).alias("q_punct_ratio"),
        stopword_ratio(col, lang).alias("q_stopword_ratio"),
        mean_token_length(col).alias("q_mean_token_len"),
    ]


def quality_score(col: Column | str, lang: str = "en") -> Column:
    """Composite 0-100 heuristic: starts at 100, penalizes very short
    docs, extreme punctuation, and missing stopwords. Deterministic
    integer arithmetic (oracle-friendly)."""
    n_tok = token_count(col)
    score = (
        F.lit(100)
        - F.when(n_tok < 5, 40).when(n_tok < 20, 15).otherwise(0)
        - F.when(punct_ratio(col) > 0.2, 25).otherwise(0)
        - F.when(stopword_ratio(col, lang) < 0.01, 20).otherwise(0)
    )
    return F.greatest(score, F.lit(0)).alias("quality_score")


def quality_score_from(
    toks: Column | str, text: Column | str, lang: str = "en"
) -> Column:
    """``quality_score`` over an ALREADY-MATERIALIZED token array — the
    hot-path form.  The composed ``quality_score`` tokenizes the text
    three times (token count, stopword ratio, and typically a caller's
    own token column); whole-stage codegen does not reliably eliminate
    the repeated regex-split subtrees, so on a documents-table scan the
    tokenization dominates (root-caused: a bench entry's +20% drift
    was this, not noise).  Same integer arithmetic, same
    oracle — ``toks`` must be a plain column reference from a previous
    projection (the shingles_from re-evaluation rule)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n_tok = F.size(toks)
    vocab = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(vocab, t)))
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / n_tok.cast("double")
    )
    score = (
        F.lit(100)
        - F.when(n_tok < 5, 40).when(n_tok < 20, 15).otherwise(0)
        - F.when(punct_ratio(text) > 0.2, 25).otherwise(0)
        - F.when(stop_ratio < 0.01, 20).otherwise(0)
    )
    return F.greatest(score, F.lit(0)).alias("quality_score")


def winnowing_from_hashes(hh: Column | str, window: int = 4) -> Column:
    """Window-minimum winnowing over an ALREADY-MATERIALIZED hash array.

    ``hh`` must be a plain column reference (an attribute produced by a
    previous projection), NOT a composed expression: the hash array is
    referenced inside the per-window lambda, and Spark re-evaluates
    non-attribute subtrees on every lambda invocation (O(n²) runtime)
    while Catalyst duplicates them per reference (exploding analysis
    time). `with_winnowing_fingerprints` sets the projection up right.
    """
    hh = F.col(hh) if isinstance(hh, str) else hh
    n = F.size(hh)
    windows = F.transform(
        F.sequence(F.lit(1), F.greatest(n - window + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(hh, i, F.least(F.lit(window), n))),
    )
    return F.when(n <= 0, F.array().cast("array<long>")).otherwise(
        F.array_sort(F.array_distinct(windows))
    )


def with_winnowing_fingerprints(
    df, sh: Column | str, out_col: str, window: int = 4
):
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme) over a shingle array: hash every k-gram
    (``shingle_hashes``), slide a ``window`` over the hash sequence,
    keep each window's minimum, dedupe. Two documents sharing a
    sufficiently long run of text are GUARANTEED to share a fingerprint
    (any shared run spanning window+k-1 tokens contains a shared window
    minimum) — the partial-overlap detector that bag fingerprints and
    minhash (whole-document similarity) don't give.

    Frame-level on purpose: the hash array is materialized as its own
    projection before the window pass. Because the window expression
    references that non-cheap alias several times, Catalyst's
    CollapseProject keeps the projections separate — hashes are computed
    once per row, and the analyzed tree stays small. (The previous
    single-expression form re-embedded the md5 subtree inside the window
    lambda: ~45 s of driver-side analysis/codegen per query, flat in
    data size.)

    Same md5 base hash as minhash, so the fingerprint sets are
    DuckDB-oracle-checkable bit-for-bit. Documents with fewer than
    ``window`` shingles fingerprint their single overall minimum
    (non-empty contract mirrors the reference-free dedup family).
    """
    tmp = f"__wf_hh_{out_col}"
    df = df.withColumn(tmp, shingle_hashes(sh))
    return df.withColumn(out_col, winnowing_from_hashes(tmp, window)).drop(tmp)


def winnowing_fingerprints(sh: Column | str, window: int = 4) -> Column:
    """Single-expression winnowing (see `with_winnowing_fingerprints`
    for semantics). ONLY for ad-hoc use on tiny data: composing the
    hash subtree into the window lambda costs ~45 s of driver-side
    analysis regardless of row count. Every hot path must go through
    `with_winnowing_fingerprints`."""
    return winnowing_from_hashes(shingle_hashes(sh), window)


# --------------------------------------------------------------------------
# Repetition / boilerplate gates (Gopher/C4-style) and PII scrubbing —
# training-data curation signals. All pure column expressions.
# --------------------------------------------------------------------------

def distinct_token_ratio(toks: Column | str) -> Column:
    """|distinct tokens| / |tokens| (1.0 for empty docs — an empty doc
    is not 'repetitive'). ``toks`` should be a materialized token-array
    column on hot paths (see `with_winnowing_fingerprints` note)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    return F.when(n <= 0, F.lit(1.0)).otherwise(
        F.size(F.array_distinct(toks)).cast("double") / n.cast("double")
    )


def max_token_freq_ratio(toks: Column | str) -> Column:
    """Frequency of the most common token / |tokens| (0.0 for empty).

    ``toks`` MUST be a materialized attribute column: it is referenced
    inside the per-distinct-token lambda, and a composed subtree would
    be re-evaluated per element. Runtime is O(|distinct|·|tokens|) per
    row — fine for document-scale arrays; for megatoken rows explode +
    groupBy instead."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    top = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )
    return F.when(n <= 0, F.lit(0.0)).otherwise(top.cast("double") / n.cast("double"))


def dup_ngram_ratio(sh: Column | str) -> Column:
    """1 − |distinct n-grams| / |n-grams| over an ALREADY-MATERIALIZED
    shingle array — the classic repeated-phrase signal (0.0 when the
    doc is too short to have n-grams)."""
    sh = F.col(sh) if isinstance(sh, str) else sh
    n = F.size(sh)
    return F.when(n <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / n.cast("double")
    )


# Conservative patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB) — no lookaround, no backrefs, byte-identical match sets.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^\s]+"


def count_emails(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(EMAIL_RE))


def count_urls(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(URL_RE))


def scrub_pii(col: Column | str) -> Column:
    """Replace URLs then emails with fixed tags. URL first: an email
    inside a URL's query string is already swallowed by the URL tag,
    which keeps the two counters independent claims."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(
        F.regexp_replace(c, URL_RE, "<URL>"), EMAIL_RE, "<EMAIL>"
    )


def token_chunks(toks: Column | str, size: int = 32) -> Column:
    """Fixed-size token chunks (last one ragged): the unit of chunk-level
    dedup for LLM training corpora. Empty docs → empty array. ``toks``
    must be a materialized attribute column (referenced per chunk)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    n_chunks = F.ceil(n.cast("double") / F.lit(float(size))).cast("int")
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * size + 1, size), " "),
        )
    )


def token_chunks_overlap(
    toks: Column | str, size: int = 32, stride: int = 24
) -> Column:
    """Overlapping token-window chunks — the RAG/pretraining packing
    shape: chunk i covers tokens [i*stride, i*stride + size). The chunk
    count is ``1 + max(0, ceil((n - size)/stride))`` so every token is
    covered and the final chunk may be ragged. ``stride == size``
    degenerates to :func:`token_chunks`. Empty docs → empty array;
    ``toks`` must be a materialized attribute column."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        raise ValueError(
            f"stride {stride} > size {size} would leave token gaps "
            "(every token must be covered); use stride <= size"
        )
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    extra = F.ceil((n - F.lit(size)).cast("double") / F.lit(float(stride))).cast("int")
    n_chunks = F.lit(1) + F.greatest(F.lit(0), extra)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(toks, i * stride + 1, size), " "),
        )
    )


# --------------------------------------------------------------------------
# Unicode normalization — multilingual-corpus hygiene
# --------------------------------------------------------------------------

def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization (composed form) — canonicalizes
    decomposed sequences (e.g. 'e' + U+0301 → 'é') so that dedup
    hashes, equality joins, and tokenization see one representation of
    visually-identical text. No Spark built-in exists; this is an
    Arrow-batched pandas UDF (ArrowEvalPython in plans — never
    row-at-a-time), with Python's unicodedata as the reference
    implementation (same tables DuckDB's nfc_normalize uses, verified
    md5-identical in the catalog oracle)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return _nfc(F.col(col) if isinstance(col, str) else col)


def unigram_logprob_scores(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus-trained unigram-LM quality score per document: train
    p(t) = count(t) / total_tokens over the corpus itself, then score
    each doc by the mean token log-probability — the deterministic
    stand-in for the LM-perplexity quality filters of CCNet/Gopher
    (swap the unigram table for a real LM's scores downstream; the
    Spark plumbing — train pass, broadcast-free probability join,
    per-doc fold — is identical).

    Returns (id, n_tokens, logprob_mean): higher (less negative) means
    the doc is built from common corpus vocabulary; rare-token/garbled
    docs sink. Determinism: each token's log p rounds to 1e-9 fixed
    point BIGINT before the per-doc sum (double addition is
    order-dependent; BIGINT addition is not), and the mean divides
    exact integers. Plan: one (doc, term) shuffle for term frequencies,
    one shuffle on term to attach corpus counts, one map-side-combinable
    per-doc sum — linear end to end, no Python.
    """
    from pyspark.sql import functions as F

    toks_t = docs.select(F.col(id_col), tokens(text_col).alias("__toks"))
    tf = (
        toks_t.select(F.col(id_col), F.explode("__toks").alias("__t"))
        .groupBy(id_col, "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    counts = tf.groupBy("__t").agg(F.sum("__tf").alias("__c"))
    total = counts.agg(F.sum("__c").cast("double").alias("__total"))
    scored = (
        tf.join(counts, "__t")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.col("__tf"),
            F.round(
                F.log(F.col("__c").cast("double") / F.col("__total")) * F.lit(1e9)
            )
            .cast("long")
            .alias("__lp_fp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__tf").cast("bigint").alias("n_tokens"),
        F.round(
            (F.sum(F.col("__tf") * F.col("__lp_fp")) / F.lit(1e9))
            / F.sum("__tf").cast("double"),
            6,
        ).alias("logprob_mean"),
    )


def bigram_logprob_scores(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Corpus-trained BIGRAM-LM quality score per document: train the
    conditional p(w2|w1) = count(w1 w2) / count(w1 as bigram head)
    over the corpus itself, then score each doc by its mean bigram
    log-probability.  One LM order above :func:`unigram_logprob_scores`
    — a doc of common words in garbled ORDER scores high under the
    unigram model and sinks here, which is exactly the failure mode
    perplexity filters exist to catch.

    Head counts come from re-aggregating the bigram-count table (sum
    over bigrams sharing a head == count of the head's continuations),
    so probabilities normalize by construction and no second corpus
    pass is needed.  Determinism follows the unigram scorer: each
    bigram's log p rounds to 1e-9 fixed-point BIGINT before the exact
    per-doc integer sum.  Plan: one (doc, bigram) shuffle, one bigram
    shuffle for corpus counts, one tiny head re-aggregation, one
    map-side-combinable per-doc sum — linear, no Python.  Docs with
    fewer than 2 tokens have no bigram and are excluded."""
    from pyspark.sql import functions as F

    toks_t = docs.select(F.col(id_col), tokens(text_col).alias("__toks")).filter(
        F.size("__toks") >= 2
    )
    tf = (
        toks_t.select(
            F.col(id_col), F.explode(shingles_from("__toks", 2)).alias("__bg")
        )
        .groupBy(id_col, "__bg")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    c2 = tf.groupBy("__bg").agg(F.sum("__tf").alias("__c2"))
    heads = c2.groupBy(F.split_part("__bg", F.lit(" "), F.lit(1)).alias("__head")).agg(
        F.sum("__c2").alias("__ch")
    )
    scored = (
        tf.join(c2, "__bg")
        .join(heads, F.split_part("__bg", F.lit(" "), F.lit(1)) == F.col("__head"))
        .select(
            F.col(id_col),
            F.col("__tf"),
            F.round(
                F.log(F.col("__c2").cast("double") / F.col("__ch").cast("double"))
                * F.lit(1e9)
            )
            .cast("long")
            .alias("__lp_fp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.sum("__tf").cast("bigint").alias("n_bigrams"),
        F.round(
            (F.sum(F.col("__tf") * F.col("__lp_fp")) / F.lit(1e9))
            / F.sum("__tf").cast("double"),
            6,
        ).alias("logprob_mean"),
    )


def pack_sequences(
    df,
    id_col: str,
    token_col: str,
    *,
    budget: int,
    n_shards: int = 32,
):
    """GPT-style sequence packing assignment: documents are concatenated
    in deterministic (shard, id) order and the token stream is chunked
    every ``budget`` tokens; each document is assigned the pack (bin)
    where it STARTS plus its offset inside that pack.  Documents may
    straddle pack boundaries — the standard concat-then-chunk recipe
    used to build fixed-context training batches (padding-free).

    A single global ordering would funnel the corpus through one window
    partition, so packing runs independently inside ``n_shards``
    deterministic md5-hash shards (the engine's cross-engine hash
    family, so a DuckDB oracle replays the assignment bit-for-bit):
    bin key = (shard, bin).  Each shard's window is a partition-local
    running sum — one shuffle on the shard key, no global sort.  Size
    n_shards so a shard's rows fit one task at the target scale.

    Returns df + (shard, bin, bin_offset) with ``bin`` numbered within
    the shard.  Reference analogue: none (training-batch layout is an
    engine extension, SURVEY §2 'beyond the reference').
    """
    from pyspark.sql.window import Window as _W

    if budget < 1 or n_shards < 1:
        raise ValueError("budget and n_shards must be >= 1")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long"),
        F.lit(n_shards),
    )
    out = df.withColumn("shard", shard)
    w = _W.partitionBy("shard").orderBy(F.col(id_col))
    # token counts are integral by contract; the explicit BIGINT cast
    # (a) keeps `div` analyzable when the column arrives as
    # DOUBLE/FLOAT from parquet (Spark's `div` rejects non-integral
    # operands) and (b) truncates any fractional
    # count deterministically in BOTH engines before summation.
    tok = F.col(token_col).cast("bigint")
    cum_excl = F.sum(tok).over(w) - tok
    # `div` is exact BIGINT division (matches the oracle's `//`); a
    # float divide-then-floor would round once a shard's cumulative
    # token count passed 2^53, breaking the bit-for-bit DuckDB replay.
    return (
        out.select("*", cum_excl.alias("__cum"))
        .select(
            *out.columns,
            F.expr(f"__cum div {int(budget)}").cast("bigint").alias("bin"),
            F.pmod(F.col("__cum"), F.lit(budget)).cast("bigint").alias("bin_offset"),
        )
    )


# GPT-2-style pre-tokenizer pattern, restricted to constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# contractions, space-prefixed letter runs, digit runs, punctuation
# runs.  No lookahead (RE2 has none), ASCII classes (the two engines'
# unicode-class syntaxes differ), and an EXPLICIT whitespace class —
# Java's \s includes \x0B, RE2's does not, so \s itself diverges on
# vertical tabs.  Callers with non-ASCII corpora pass their own
# pattern.
BPE_TOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+"
    r"| ?[^ \t\n\x0b\f\rA-Za-z0-9]+"
)


def bpe_apply(
    col: Column | str, merges: "list[tuple[str, str]]"
) -> Column:
    """Apply a FIXED BPE merge table and return the subword tokens —
    the real tokenizer-apply step (Sennrich et al. 2016), not the
    regex estimator below.  Reference scope: the reference has no
    tokenizer; this is part of the training-data-pipeline extension
    surface (token accounting with an actual vocabulary).

    Algorithm, exactly the published one: each whitespace word is
    split into characters (space-separated), then the merge rules are
    applied IN RANK ORDER, each replacing every occurrence of its
    pair ``"a b"`` with the merged symbol ``ab`` — later merges
    consume earlier merges' outputs, which is why rank order is part
    of the semantics.  ``merges`` is the rank-ordered table of symbol
    pairs, e.g. ``[("t","a"), ("ta","b")]``.

    Symbols are SELF-DELIMITED — every symbol rides as ``<sym>`` and a
    merge replaces ``<a><b>`` with ``<ab>`` — for two reasons a plain
    space-separated form gets wrong (both found in review):

    - boundary integrity: with spaces, the pattern ``l ow`` also
      matches the TAIL of a longer symbol (``val ow`` → ``valow``),
      fabricating out-of-vocabulary symbols; ``<l><ow>`` cannot match
      inside ``<val><ow>``;
    - adjacent repeats: with spaces, ``a b a b`` shares the middle
      space between two occurrences, so a single non-overlapping scan
      merges only the first; ``<a><b><a><b>`` has no shared boundary
      and both merge in one pass — the greedy leftmost semantics of
      the published apply.

    Everything is column expressions — regexp char-wrap, a chain of
    constant ``replace`` calls (non-overlapping left-to-right scans,
    semantics identical in Spark and DuckDB so catalog oracles can
    replay the chain verbatim), one final unwrap+split — so the whole
    apply runs in whole-stage codegen with zero Python.  At 100 TB a
    real 32k-merge vocabulary would compile to an impractically deep
    expression tree; the scale path keeps this exact algorithm inside
    an Arrow-batched pandas UDF with the merge table broadcast.  The
    column form is the semantic spec and is practical for the small
    domain-specific vocabularies data-quality audits use.  Symbols are
    assumed not to contain ``<``/``>`` (word tokenizers strip them;
    assert upstream if your corpus can carry raw angle brackets)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(F.trim(c), r"\s+"), lambda w: w != "")

    def _merge_word(w: Column) -> Column:
        m = F.regexp_replace(w, "(.)", "<$1>")
        for a, b in merges:
            m = F.replace(m, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        return F.split(F.regexp_replace(m, "^<|>$", ""), "><")

    return F.flatten(F.transform(words, _merge_word))


def bpe_token_count(col: Column | str, pattern: str = BPE_TOKEN_RE) -> Column:
    """Subword-ish token count via the GPT-2 pre-tokenizer regex — the
    'how many BPE tokens will this roughly cost' estimator (real BPE
    merges only split these pieces further, so this lower-bounds and
    tracks the true count).  Pure column expression; pairs with the
    whitespace :func:`token_count` as the two standard corpus-budget
    counters."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def html_to_text(col: Column | str) -> Column:
    """HTML → plain text for crawl processing — pure column expressions
    (regexp chain, no UDF, no external parser):

    1. ``<script>``/``<style>`` blocks and HTML comments drop WITH
       their content ((?is) dotall + case-insensitive, non-greedy);
    2. every remaining tag becomes a space (so ``a</p><p>b`` keeps a
       word boundary);
    3. the common entities decode (``&nbsp; &lt; &gt; &quot; &#39;``,
       and ``&amp;`` LAST so ``&amp;lt;`` correctly yields the literal
       ``&lt;`` instead of double-decoding to ``<``);
    4. whitespace collapses to single spaces and trims — using the
       explicit class ``[ \\t\\r\\n]`` because Java's ``\\s`` and RE2's
       ``\\s`` disagree on vertical tab (the BPE_TOKEN_RE lesson), so a
       DuckDB oracle replays the chain byte-for-byte.

    Good-enough-for-corpus-work by design: a full HTML5 parser handles
    malformed nesting better, but at 100 TB the tag-strip chain runs in
    whole-stage codegen with zero Python, and the failure mode (stray
    text from unclosed scripts) is bounded and visible."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, rep in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&amp;", "&"),  # last — see docstring
    ):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"[ \t\r\n]+", " "))


def compression_ratio(col: Column | str, *, level: int = 6) -> Column:
    """DEFLATE compression ratio (compressed bytes / raw bytes) as a
    text-quality signal — the classic cheap redundancy detector: highly
    repetitive boilerplate compresses far below ~0.4, while natural
    prose sits around 0.5-0.7 and random noise near 1.0.  Production
    curation stacks use exactly this signal beside the n-gram
    repetition gates (which catch STRUCTURED repeats; the compressor
    catches long-range and approximate redundancy they miss).

    Implemented as an Arrow-batched pandas UDF over zlib (stdlib) —
    Python is unavoidable here, but the work is a single C call per
    document at a fixed compression level, and the UDF is vectorized
    per batch.  No catalog oracle exists BY DESIGN: the value depends
    on zlib's internals, which no SQL engine replays — the semantics
    are pinned by pytest instead (the same policy as image phash /
    audio rms; see plans/catalog_mm.py's module docstring).  Empty
    text maps to NULL (a 0-byte doc has no meaningful ratio)."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        def one(txt):
            if txt is None:
                return None
            raw = txt.encode("utf-8")
            if not raw:
                return None
            return len(zlib.compress(raw, level)) / len(raw)

        return s.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return _ratio(c)


CHARSET_SCHEMA = "doc_id bigint, charset string, n_chars int"


def detect_charset(df, *, id_col: str = "doc_id", raw_col: str = "raw"):
    """Charset detection over raw crawl bytes — the decoding gate that
    runs BEFORE any text operator, since a miss here is what produces
    the mojibake `text_mojibake_stats` later hunts for.

    Detection order (the practical crawl heuristic, not a statistical
    model): explicit BOMs first (UTF-16LE/BE, UTF-8-sig), then a strict
    UTF-8 decode attempt (its validity is self-certifying: random
    Latin-1 high bytes are invalid UTF-8 sequences), ASCII reported
    as its own class (pure 7-bit decodes identically everywhere), and
    Latin-1 as the always-succeeds fallback.  Returns (id, charset,
    n_chars) with n_chars counted AFTER decode, BOM excluded.
    Scale: Arrow-batched mapInPandas, zero shuffle, O(bytes) per row;
    misdetections surface downstream as mojibake stats, the paired
    observability signal."""
    from collections.abc import Iterator as _Iterator

    def _detect(raw: bytes) -> tuple[str, int]:
        # 4-byte UTF-32 BOMs FIRST: FF FE 00 00 is a superset of the
        # UTF-16LE BOM, so order is load-bearing (review finding)
        boms = (
            (b"\xff\xfe\x00\x00", "utf-32le", "utf-32-le"),
            (b"\x00\x00\xfe\xff", "utf-32be", "utf-32-be"),
            (b"\xff\xfe", "utf-16le", "utf-16-le"),
            (b"\xfe\xff", "utf-16be", "utf-16-be"),
            (b"\xef\xbb\xbf", "utf-8-sig", "utf-8"),
        )
        for bom, label, codec in boms:
            if raw[:len(bom)] == bom:
                # a BOM is a strong hint, not a guarantee: truncated
                # UTF-16/32 or a mojibake'd BOM over Latin-1 bytes must
                # classify, not kill the partition (review finding)
                try:
                    return label, len(raw[len(bom):].decode(codec))
                except UnicodeDecodeError:
                    return "latin-1", len(raw.decode("latin-1"))
        try:
            s = raw.decode("utf-8")
        except UnicodeDecodeError:
            return "latin-1", len(raw.decode("latin-1"))
        return ("ascii" if s.isascii() else "utf-8"), len(s)

    def kernel(batches: _Iterator[pd.DataFrame]) -> _Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                charset, n = _detect(bytes(row[raw_col] or b""))
                out.append({"doc_id": row[id_col], "charset": charset,
                            "n_chars": n})
            yield pd.DataFrame(out, columns=["doc_id", "charset", "n_chars"])

    return df.mapInPandas(kernel, CHARSET_SCHEMA)


def bpe_train(
    df,
    col: str,
    *,
    n_merges: int = 3,
    token_re: str = "^[a-z]+$",
    merge_batch: int = 1,
):
    """LEARN a BPE merge table from a corpus (Sennrich et al. 2016,
    Algorithm 1) — the training half of the tokenizer story
    (:func:`bpe_apply` is the apply half): ``n_merges`` rounds of
    "count all adjacent symbol pairs, merge the most frequent"
    (count-desc, then lexicographic (a, b) tiebreak, so the learned
    table is deterministic and engine-replayable).

    Returns a DataFrame (rank, a, b, freq) — the rank-ordered merge
    table ready to feed :func:`bpe_apply`.

    Scale shape, exactly the published one: the corpus collapses ONCE
    to a (word, freq) vocabulary table (one shuffle over data — BPE
    statistics only depend on word frequencies), which is persisted;
    every training round then runs over the VOCABULARY (millions of
    rows at web scale, not billions) — one pair-explode + groupBy
    shuffle plus a top-k argmax probe (the CC-style per-round scalar
    collect), and the merge itself is a constant replace over the
    self-delimited word form shared with bpe_apply.  Tokens are
    filtered to ``token_re`` (symbols must not contain ``<``/``>``,
    the self-delimiting markers).

    SCALE LIMIT (driver pacing): with ``merge_batch=1`` each merge is
    one sequential Spark job — honest Algorithm 1, fine for gate-scale
    vocabularies, but a 32k-merge production vocabulary would be 32k
    sequential jobs.  ``merge_batch=k`` is the standard practical
    relaxation: each probe takes the top-k candidate pairs and accepts
    the NON-OVERLAPPING prefix (a candidate is skipped if either of
    its symbols, or its merged form, touches a symbol of an earlier
    acceptance in the same batch), applying them together — ~k× fewer
    jobs.  EXACTNESS CAVEAT: accepted counts are measured BEFORE the
    batch's earlier merges apply, so ranks/freqs can deviate from
    exact sequential order when batch members interact through shared
    words; ``merge_batch=1`` is bit-exact Sennrich (pytest pins
    batched(k) == sequential on non-interacting corpora and the
    default path on the attested gate entry)."""
    spark = df.sparkSession
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(col))), r"\s+"),
        lambda t: t.rlike(token_re),
    )
    base = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
        .select(F.regexp_replace("w", "(.)", "<$1>").alias("w"), "freq")
        .persist()
    )
    wf = base
    try:
        merges = []
        while len(merges) < n_merges:
            pairs = wf.select(
                "freq",
                F.explode(
                    F.expr(
                        "zip_with("
                        "  slice(split(regexp_replace(w, '^<|>$', ''), '><'),"
                        "        1, size(split(regexp_replace(w, '^<|>$', ''), '><')) - 1),"
                        "  slice(split(regexp_replace(w, '^<|>$', ''), '><'),"
                        "        2, size(split(regexp_replace(w, '^<|>$', ''), '><')) - 1),"
                        "  (x, y) -> struct(x AS a, y AS b))"
                    )
                ).alias("p"),
            ).select("freq", "p.a", "p.b")
            candidates = (
                pairs.groupBy("a", "b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .take(max(1, merge_batch))
            )
            if not candidates:
                break
            # non-overlap filter: within a batch, a later candidate may
            # not share a symbol (or the merged form) with an earlier
            # acceptance — those are exactly the pairs whose counts the
            # earlier merge would have changed
            touched: set = set()
            accepted = []
            for r in candidates:
                if len(merges) + len(accepted) >= n_merges:
                    break
                sym = {r["a"], r["b"], r["a"] + r["b"]}
                if merge_batch > 1 and touched & sym:
                    continue
                touched |= sym
                accepted.append(r)
            for r in accepted:
                merges.append((len(merges), r["a"], r["b"], int(r["cnt"])))
                wf = wf.withColumn(
                    "w",
                    F.replace(
                        "w",
                        F.lit(f"<{r['a']}><{r['b']}>"),
                        F.lit(f"<{r['a']}{r['b']}>"),
                    ),
                )
        return spark.createDataFrame(
            merges, "rank int, a string, b string, freq bigint"
        )
    finally:
        base.unpersist()
