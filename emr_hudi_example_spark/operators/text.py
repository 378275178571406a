"""Text-analysis operators for LLM-data pipelines (north-star extensions,
SURVEY.md §7 phase 4): tokenization, quality scoring, language ID,
fingerprinting, shingling.

All column expressions are Spark built-ins (JVM, whole-stage codegen) —
no Python in the hot path. Formulas are deliberately reproducible in
ANSI-ish SQL so every operator has an exact DuckDB oracle twin.

Scale notes (100 TB): every op here is embarrassingly parallel per-row
(narrow, no shuffle); they pipeline with the parquet scan and prune to
the ``text`` column only.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small per-language stopword sets (public common words). The heuristic is
# the classic stopword-hit-rate detector; on real corpora accuracy comes
# from bigger lists — the operator contract (deterministic argmax with
# alphabetical tie-break) is what the oracle verifies.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "los", "y", "es", "de", "que", "un"],
    "fr": ["le", "la", "les", "et", "est", "de", "que", "un"],
}


#: the characters ``tokens`` and ``normalize_text`` trim from both ends:
#: the regex ``\s`` class of DuckDB's RE2 oracles. Spark's one-argument
#: ``trim`` strips spaces only, so a document starting with a tab split
#: into a leading empty token.
_WS = " \t\n\r\f"


def _trim_ws(c: Column) -> Column:
    # a bare string names a column: the set goes in as a literal
    return F.trim(c, F.lit(_WS))


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (trim first so leading and trailing
    whitespace don't emit empty tokens). NOTE: a fully
    empty/whitespace-only document yields ``['']`` — one empty token —
    in BOTH Spark and the DuckDB oracle (identical split semantics, so
    parity holds); callers feeding possibly-empty documents should
    pre-filter them."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(_trim_ws(c), r"\s+")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def word_token_count(text: Column | str) -> Column:
    """BPE-ish word/punctuation token count: count of maximal runs of
    word chars or single punctuation marks (the usual pre-tokenizer
    approximation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(
        F.filter(
            F.split(F.regexp_replace(F.trim(c), r"([^\p{L}\p{N}_\s])", r" $1 "), r"\s+"),
            lambda t: t != "",
        )
    )


def stopword_hits(text: Column | str, words: list[str]) -> Column:
    """Number of tokens that are stopwords (duplicates count)."""
    return F.size(F.filter(tokens(text), lambda t: F.lower(t).isin(words)))


def quality_score(text: Column | str) -> Column:
    """Composite quality score in [0,1]:
    0.25*min(1, n_tokens/64) + 0.25*unique_token_ratio +
    0.25*(1 - punct_char_ratio) + 0.25*min(1, 4*stopword_ratio).

    The usual length / repetition / punctuation / naturalness signals
    (cf. C4/Gopher-style filters) with an exactly SQL-reproducible form.
    """
    c = F.col(text) if isinstance(text, str) else text
    toks = tokens(c)
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    punct = (
        F.length(F.regexp_replace(c, r"[\p{L}\p{N}_\s]", "")).cast("double")
        / F.greatest(F.length(c).cast("double"), F.lit(1.0))
    )
    stop = stopword_hits(c, LANG_STOPWORDS["en"]).cast("double") / F.greatest(
        n, F.lit(1.0)
    )
    return (
        0.25 * F.least(F.lit(1.0), n / F.lit(64.0))
        + 0.25 * (uniq / F.greatest(n, F.lit(1.0)))
        + 0.25 * (F.lit(1.0) - punct)
        + 0.25 * F.least(F.lit(1.0), 4.0 * stop)
    )


def lang_id(text: Column | str) -> Column:
    """Stopword-hit-rate language ID over ``LANG_STOPWORDS``; returns the
    language with the most hits, alphabetical on ties, 'und'
    (undetermined) when nothing hits."""
    c = F.col(text) if isinstance(text, str) else text
    hits = {lang: stopword_hits(c, ws) for lang, ws in LANG_STOPWORDS.items()}
    best = reduce(
        lambda acc, lang: F.when(
            hits[lang] > acc["h"],
            F.struct(F.lit(lang).alias("l"), hits[lang].alias("h")),
        ).otherwise(acc),
        sorted(hits),  # alphabetical scan order ⇒ ties keep the earlier lang
        F.struct(F.lit("und").alias("l"), F.lit(0).alias("h")),
    )
    return best["l"]


def normalize_text(text: Column | str) -> Column:
    """Lowercase + collapse whitespace — canonical form for hashing."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(_trim_ws(c)), r"\s+", " ")


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint = md5 of the normalized text (exact-hash)."""
    return F.md5(normalize_text(text))


def rolling_fingerprint(text: Column | str, k: int = 5) -> Column:
    """Content-defined fingerprint robust to local edits: the MINIMUM md5
    over all ``k``-word shingles (a 1-permutation MinHash). Two documents
    sharing their rarest shingle collide — the rolling-hash winnowing
    idea in one aggregate.

    Documents SHORTER than ``k`` tokens have no shingle to take the min
    over; they fall back to the md5 of the whitespace-normalized text
    (r13 review: the bare ``array_min`` returned NULL, and a
    groupBy-fingerprint consumer clusters NULL keys — every short doc
    became one spurious duplicate group). Short docs therefore match
    only on exact content, which is the right granularity below the
    shingle width."""
    sh = shingles(text, k)
    return F.coalesce(
        F.array_min(F.transform(sh, F.md5)), fingerprint(text)
    )


def repetition_score(text: Column | str, k: int = 3) -> Column:
    """Intra-document repetition: fraction of duplicate ``k``-word
    shingles, ``1 - distinct/total`` (0 for documents shorter than
    ``k`` tokens). The MassiveText/Gopher-style repeated-n-gram filter
    signal; narrow per-row expression, no shuffle.

    The shingle array is bound once per row as the variable of a
    one-element ``transform``: Spark does not common-subexpression-
    eliminate higher-order expressions, so naming it three times in the
    formula would split and window each document three times."""

    def score(sh: Column) -> Column:
        n = F.size(sh).cast("double")
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / n
        )

    return F.transform(F.array(shingles(text, k)), score)[0]


# PII detection/redaction patterns — kept to syntax both Java regex
# (Spark) and RE2 (DuckDB) execute identically: no lookaround, no
# backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_count(text: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern (see ``PII_PATTERNS``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind]))


def redact_pii(text: Column | str) -> Column:
    """Replace every PII match with ``<KIND>`` markers; single pass per
    pattern, order fixed (email → phone → ipv4) so the output is
    deterministic and SQL-reproducible."""
    c = F.col(text) if isinstance(text, str) else text
    for kind in ("email", "phone", "ipv4"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return c


def shingles(text: Column | str, k: int = 3) -> Column:
    """All ``k``-word shingles (space-joined token windows), as an array;
    empty array when the document has fewer than ``k`` tokens.

    Each document is split exactly once, so the cost is linear in its
    length (Broder's w-shingling is one pass). The token array is bound
    as the variable of a one-element ``transform`` and the windows are
    cut from that variable. Named inside the window lambda, the split
    would run once per window, O(tokens²): Catalyst neither hoists nor
    common-subexpression-eliminates lambda bodies, and CollapseProject
    may inline a preceding ``select`` of the tokens back into them."""

    def windows(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))

    return F.transform(F.array(tokens(text)), windows)[0]


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-document top-``k`` salient tokens by tf·idf — the keyword /
    topic-signal extractor of a corpus-analysis pass. idf uses the
    RATIONAL smoothing ``(N + 1) / (df + 1)`` (no logarithm): the
    ranking is order-equivalent to log-idf for fixed N, and pure
    rational double arithmetic is bit-identical between Spark and the
    DuckDB oracle (a libm ``ln`` need not be). Returns
    ``(id, token, tf, df, tfidf, rank)``; ties break on token asc.

    Scale shape: one explode + two hash aggregations (doc-term counts,
    then term document-frequency), one broadcast of the 1-row corpus
    count, one term-keyed shuffle join, and a per-doc window over ≤
    |doc| rows. The df table is term-keyed — skew capped by language
    zipfiness, the same profile as vocab_topk.
    """
    toks = (
        df.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("tok")
        )
        # drop the phantom '' token an empty/whitespace-only doc emits
        # (r13 review: the sibling operators filter it — unfiltered it
        # ranked as a keyword and inflated vocabulary counts)
        .filter(F.length("tok") > 0)
        .select(id_col, F.lower(F.col("tok")).alias("token"))
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    n_docs = df.select(
        F.countDistinct(id_col).alias("n_docs")
    )
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (F.col("n_docs").cast("double") + 1.0)
                / (F.col("df").cast("double") + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def unigram_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max_count: int = 1,
) -> DataFrame:
    """Corpus-self-scored unigram quality — the cheap stand-in for a
    KenLM perplexity filter: score each document by how typical its
    tokens are under the corpus's own unigram distribution. Documents
    dominated by hapax/rare tokens (OCR noise, mojibake, codey spew)
    score low; natural prose scores high.

    Outputs per doc: ``n_tok``, ``total_freq`` (sum of corpus-wide
    occurrence counts of the doc's tokens), ``mean_tok_freq`` =
    total_freq / n_tok, and ``rare_frac`` = fraction of tokens whose
    corpus count ≤ ``rare_max_count``. All accumulation is exact
    integer (order-independent — safe under Spark's nondeterministic
    partial-agg order); the only floating ops are two final divisions,
    bit-identical cross-engine.

    Scale shape: one explode, one token-keyed count (map-side partial),
    one token-keyed join of the doc-token table against the (small,
    vocabulary-sized) count table, one doc-keyed re-aggregation. The
    count table is Zipf-skewed on the token key like every vocabulary
    aggregate — at 100 TB broadcast it instead (vocabularies are tiny
    relative to corpora) to skip the skewed shuffle entirely.
    """
    toks = (
        df.select(
            F.col(id_col), F.explode(tokens(text_col)).alias("tok")
        )
        # drop the phantom '' token an empty/whitespace-only doc emits
        # (r13 review: the sibling operators filter it — unfiltered it
        # ranked as a keyword and inflated vocabulary counts)
        .filter(F.length("tok") > 0)
        .select(id_col, F.lower(F.col("tok")).alias("token"))
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(counts, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("cnt").alias("total_freq"),
            F.sum(
                (F.col("cnt") <= rare_max_count).cast("long")
            ).alias("n_rare"),
        )
        .select(
            id_col,
            "n_tok",
            "total_freq",
            F.round(
                F.col("total_freq").cast("double")
                / F.col("n_tok").cast("double"),
                6,
            ).alias("mean_tok_freq"),
            F.round(
                F.col("n_rare").cast("double")
                / F.col("n_tok").cast("double"),
                6,
            ).alias("rare_frac"),
        )
    )


def bigram_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Collocation mining: top-``k`` adjacent word pairs by LIFT —
    ``p(xy) / (p(x)·p(y))`` — the no-logarithm PMI equivalent (identical
    ranking, since log is monotone). Lift is one double division of
    exact integer products (``c_xy·T1·T1`` over ``T2·c_x·c_y``), so at
    analysis scale the score is bit-exact across engines; beyond ~10⁸
    tokens the products leave the 2⁵³-exact range — there, rank in log
    space (ranking is what matters; exactness is a fixture-scale
    verification property).
    Pairs below ``min_count`` are cut before ranking (rare-pair lift is
    noise — the standard collocation floor). Returns ``(bigram, c_xy,
    c_x, c_y, lift, rank)``.

    Scale shape: two explode→hash-agg passes (unigrams, bigrams) with
    map-side partial aggregation, two 1-row total broadcasts, and two
    broadcast joins of the (tiny, min_count-cut) bigram table against
    per-token counts — the corpus streams through twice, nothing else
    shuffles at corpus size.
    """
    tk = tokens(text_col)
    uni = (
        df.select(F.explode(tk).alias("w"))
        .filter(F.length("w") > 0)  # phantom '' of empty docs (r13)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    big = (
        df.select(
            F.explode(
                F.zip_with(
                    F.slice(tk, 1, F.size(tk) - 1),
                    F.slice(tk, 2, F.size(tk) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    t1 = uni.select(F.sum("c_w").alias("t1"))
    t2 = df.select(
        F.sum(F.greatest(F.size(tk) - 1, F.lit(0))).alias("t2")
    )
    x = uni.select(F.col("w").alias("wx"), F.col("c_w").alias("c_x"))
    y = uni.select(F.col("w").alias("wy"), F.col("c_w").alias("c_y"))
    scored = (
        big.withColumn("wx", F.split("bigram", " ")[0])
        .withColumn("wy", F.split("bigram", " ")[1])
        .join(F.broadcast(x), "wx")
        .join(F.broadcast(y), "wy")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("t1") * F.col("t1")).cast("double")
                / (F.col("t2") * F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("lift_raw"),
        )
    )
    from pyspark.sql.window import Window

    # global top-k over the (min_count-cut, tiny) scored table only —
    # the single-partition window never sees the corpus itself
    w = Window.orderBy(F.col("lift_raw").desc(), F.col("bigram").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "bigram", "c_xy", "c_x", "c_y",
            F.round("lift_raw", 6).alias("lift"), "rank",
        )
    )


def bigram_surprise(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_denom: int = 100,
) -> DataFrame:
    """Per-document bigram-LM surprise profile — the statistical-LM
    quality signal (garbled/boilerplate/glued text has improbable token
    transitions) without the log-probabilities cross-engine floats
    forbid. Per doc: ``n_bigrams``; ``n_rare`` = adjacent pairs whose
    corpus conditional probability ``p(w2|w1) = c12/c1`` is below
    ``1/rare_denom`` — decided by EXACT integer cross-multiplication
    (``c1 > rare_denom·c12``), never a float threshold; and ``min_p``,
    the most surprising transition (min of single-division doubles —
    order-independent, IEEE-exact). Docs with < 2 tokens emit nothing.

    Scale shape: one explode of the corpus into (doc, w1, w2); bigram
    and first-token count tables built with map-side partial agg (the
    skew-heavy 'the'-style keys collapse before shuffling); then two
    hash joins of the bigram stream against those count tables and one
    per-doc agg. No windows over raw token streams, no per-row Python.
    """
    tk = tokens(text_col)
    bg = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(tk, 1, F.size(tk) - 1),
                F.slice(tk, 2, F.size(tk) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    joined = bg.join(big, ["w1", "w2"]).join(uni, ["w1"])
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum(
            (F.col("c1") > rare_denom * F.col("c12")).cast("long")
        ).alias("n_rare"),
        F.min(
            F.col("c12").cast("double") / F.col("c1").cast("double")
        ).alias("min_p"),
    )


def char_diversity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-distribution diversity — the log-free
    entropy surrogate of a quality filter: Simpson collision index
    ``Σ(c_i/N)² = Σc_i²/N²`` over the character histogram (low
    diversity ⇒ high collision ⇒ repeated-character junk, ascii-art,
    padding), plus the raw histogram summary (N, distinct chars, top
    char frequency). Shannon entropy orders documents the same way for
    the degenerate cases a filter acts on, but needs ``ln`` — libm-
    dependent, so not graded-value-safe; collision probability is exact
    integer arithmetic and ONE IEEE divide.

    Scale shape: one explode into (doc, char) — bounded by corpus bytes
    — a count agg with map-side combine on the (doc, char) key (alphabet
    ≤ a few thousand keys per doc, so partials collapse hard), then a
    per-doc agg. No Python, no windows.
    """
    ch = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), "")).alias("c"),
    )
    hist = ch.groupBy("_id", "c").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        hist.groupBy("_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("int").alias("n_distinct_chars"),
            F.max("cnt").cast("long").alias("top_char_cnt"),
            F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("_ss"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_chars",
            "n_distinct_chars",
            "top_char_cnt",
            F.round(
                F.col("_ss").cast("double")
                / (F.col("n_chars") * F.col("n_chars")).cast("double"),
                6,
            ).alias("collision_index"),
        )
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-rules document quality filter (Rae et al. 2021, §A1.1 —
    public heuristics): word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (# and ellipsis), bullet-line and
    ellipsis-line fractions, alphabetic-word fraction, and a minimum
    stopword-hit count. Emits every raw metric plus per-rule 0/1 flags
    and the conjunction, so downstream recipes can re-threshold without
    a rescan.

    Every metric is exact integer counting plus at most one IEEE divide
    (cross-engine-stable; same policy as ``char_diversity``), built
    entirely from JVM array/string expressions — narrow, zero-shuffle,
    pipelined with the parquet scan.
    """
    c = F.col(text_col)
    tk = F.filter(tokens(c), lambda t: F.length(t) > 0)
    ln = F.split(c, "\n")
    base = df.select(
        F.col(id_col),
        tk.alias("tk"),
        ln.alias("ln"),
        (F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))).alias(
            "hash_cnt"
        ),
        (
            (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit(""))))
            / F.lit(3)
        ).cast("long").alias("ellipsis_cnt"),
    )
    n_words = F.size("tk")
    n_words_nz = F.when(n_words > 0, n_words)  # NULL-guard for empty docs
    sum_wl = F.aggregate(
        F.transform(F.col("tk"), lambda w: F.length(w)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    mean_wl = F.round(sum_wl.cast("double") / n_words_nz.cast("double"), 6)
    symbol_ratio = F.round(
        (F.col("hash_cnt") + F.col("ellipsis_cnt")).cast("double")
        / n_words_nz.cast("double"),
        6,
    )
    bullet_lines = F.size(
        F.filter(
            F.col("ln"),
            lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"),
        )
    )
    ellipsis_lines = F.size(
        F.filter(F.col("ln"), lambda l: F.rtrim(l).endswith("..."))
    )
    n_lines = F.size("ln")  # split always yields >= 1 element
    bullet_ratio = F.round(
        bullet_lines.cast("double") / n_lines.cast("double"), 6
    )
    ellipsis_line_ratio = F.round(
        ellipsis_lines.cast("double") / n_lines.cast("double"), 6
    )
    alpha_words = F.size(
        F.filter(F.col("tk"), lambda w: w.rlike("[A-Za-z]"))
    )
    alpha_ratio = F.round(
        alpha_words.cast("double") / n_words_nz.cast("double"), 6
    )
    lowered = F.transform(F.col("tk"), lambda w: F.lower(w))
    stop_hits = reduce(
        lambda a, b: a + b,
        [
            F.array_contains(lowered, w).cast("int")
            for w in GOPHER_STOPWORDS
        ],
    )
    m = base.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_line_ratio.alias("ellipsis_line_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.cast("int").alias("stop_hits"),
    )
    f_words = (F.col("n_words") >= 50) & (F.col("n_words") <= 100000)
    f_meanlen = (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
    f_symbol = F.col("symbol_ratio") <= 0.1
    f_bullet = F.col("bullet_ratio") <= 0.9
    f_ellipsis = F.col("ellipsis_line_ratio") <= 0.3
    f_alpha = F.col("alpha_ratio") >= 0.8
    f_stop = F.col("stop_hits") >= 2
    # empty docs have NULL ratio metrics; their flags coalesce to 0 —
    # a doc with no measurable words FAILS a ratio rule, it does not
    # vanish from flag sums / re-threshold filters (r13 review: the
    # contract is per-rule 0/1, never NULL)
    def _flag(cond):
        return F.coalesce(cond.cast("int"), F.lit(0))

    return m.select(
        "*",
        _flag(f_words).alias("pass_word_count"),
        _flag(f_meanlen).alias("pass_mean_word_len"),
        _flag(f_symbol).alias("pass_symbol_ratio"),
        _flag(f_bullet).alias("pass_bullet_lines"),
        _flag(f_ellipsis).alias("pass_ellipsis_lines"),
        _flag(f_alpha).alias("pass_alpha_words"),
        _flag(f_stop).alias("pass_stopwords"),
        _flag(
            f_words & f_meanlen & f_symbol & f_bullet & f_ellipsis
            & f_alpha & f_stop
        ).alias("pass_gopher"),
    )


def readability(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Flesch readability metrics (public 1948/1975 formulas) from
    deterministic structural counts: sentences = runs of ``[.!?]``,
    syllables = vowel-group runs per word (min 1) — the standard
    dictionary-free approximation. Emits the raw counts plus
    Flesch Reading Ease and Flesch-Kincaid grade; both are a handful of
    fixed-order IEEE ops over exact integers, so the scores are
    bit-identical cross-engine (no libm). Used as a quality/curriculum
    feature (graded-reader ordering, jargon detection).

    Scale shape: narrow per-row expressions (regex counts + one array
    fold), zero shuffle, pipelines with the scan.
    """
    c = F.col(text_col)
    tk = F.filter(tokens(c), lambda t: F.length(t) > 0)
    n_words = F.size(tk)
    n_sentences = F.greatest(
        F.regexp_count(c, F.lit(r"[.!?]+")), F.lit(1)
    )
    n_syllables = F.aggregate(
        F.transform(
            tk,
            lambda w: F.greatest(
                F.regexp_count(F.lower(w), F.lit("[aeiouy]+")), F.lit(1)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    base = df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllables"),
    ).filter(F.col("n_words") > 0)
    wps = F.col("n_words").cast("double") / F.col("n_sentences").cast(
        "double"
    )
    spw = F.col("n_syllables").cast("double") / F.col("n_words").cast(
        "double"
    )
    return base.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6
        ).alias("flesch_ease"),
        F.round(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade"),
    )


def code_detection(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Code-vs-prose routing signal — corpora route code to different
    tokenization/dedup/quality stacks than prose, so the detector runs
    early in every mixed crawl pipeline. Structural counts (braces,
    semicolons, indented lines, comment lines, assignment operators)
    over the raw text, one ratio, one flag; exact integers + a single
    IEEE divide, narrow and zero-shuffle like the other quality ops.
    """
    c = F.col(text_col)

    def cnt(ch: str) -> F.Column:
        return F.length(c) - F.length(F.replace(c, F.lit(ch), F.lit("")))

    lines = F.split(c, "\n")
    n_lines = F.size(lines)
    indented = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("    ") | l.startswith("\t"),
        )
    )
    comments = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("#")
            | F.ltrim(l).startswith("//"),
        )
    )
    assigns = (
        F.length(c) - F.length(F.replace(c, F.lit(" = "), F.lit("")))
    ) / F.lit(3)
    base = df.select(
        F.col(id_col),
        (cnt("{") + cnt("}")).cast("long").alias("brace_cnt"),
        cnt(";").cast("long").alias("semicolon_cnt"),
        indented.cast("long").alias("indent_lines"),
        comments.cast("long").alias("comment_lines"),
        assigns.cast("long").alias("assign_cnt"),
        n_lines.cast("long").alias("n_lines"),
    )
    score = F.round(
        (
            F.col("brace_cnt")
            + F.col("semicolon_cnt")
            + F.col("indent_lines")
            + F.col("comment_lines")
            + F.col("assign_cnt")
        ).cast("double")
        / F.col("n_lines").cast("double"),
        6,
    )
    return base.select(
        "*",
        score.alias("code_score"),
        (score >= 0.5).cast("int").alias("is_code"),
    )
