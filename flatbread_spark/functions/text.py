"""Text-analysis expressions for document pipelines.

Beyond-reference operators (BASELINE.json north star): language-ID heuristic,
quality scoring, token counting, document fingerprinting. Everything here is
a pure ``pyspark.sql.functions`` expression (JVM-side, codegen'd) — the hot
path of a 100 TB document sweep must not cross into Python per row.

Determinism notes: token splitting is ``\\s+`` on trimmed text, ratios are
double divisions of exact ints, fingerprints are md5 — all reproducible in
ANSI SQL for the correctness oracle.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# marker stopwords per language for the n-gram/stopword language heuristic;
# ties resolve by this ordering (deterministic argmax)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "了", "在", "和"],
}

STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it"]


def tokens(text: Column) -> Column:
    """Whitespace tokens (``array<string>``)."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def distinct_token_count(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text))).cast("bigint")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word pieces + digits + punctuation runs —
    a cheap, deterministic proxy for BPE token counts used to size corpora."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^\sA-Za-z0-9]"), F.lit(0))
    ).cast("bigint")


def punct_ratio(text: Column) -> Column:
    """Non-word, non-space characters / total characters."""
    n = F.length(text)
    p = F.length(F.regexp_replace(text, r"[\w\s]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = stopwords or STOPWORDS_EN
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def mean_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, t: a + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: rewards stopword presence and sane token
    length, penalizes punctuation soup. Deterministic double arithmetic."""
    sw = stopword_ratio(text)
    pr = punct_ratio(text)
    mtl = mean_token_len(text)
    len_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (F.least(sw * 4.0, F.lit(1.0)) * 0.4 + (1.0 - F.least(pr * 5.0, F.lit(1.0))) * 0.3
             + len_ok * 0.3)
    return F.round(score, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    """Marker-word hit counts per language over lowercase tokens."""
    toks = tokens(F.lower(text))
    return {
        lang: F.size(F.filter(toks, lambda t: t.isin(markers))).cast("bigint")
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """Deterministic argmax over marker-word counts; ties resolve in
    LANG_MARKERS order; zero hits → 'und' (undetermined)."""
    return _lang_argmax(list(lang_scores(text).values()))


def _lang_argmax(scores: list[Column]) -> Column:
    """:func:`lang_id`'s prediction from per-language score columns given
    in LANG_MARKERS order — lets a caller that also outputs the scores
    derive the prediction from the SAME columns instead of re-scoring.

    Implemented as ``array_max`` over (score, -order, lang) structs plus an
    (0, 1, 'und') entry, so each score expression appears exactly ONCE in
    the plan — a naive ``when``-chain argmax embeds every score O(langs)
    times and multiplies the tokenize+filter work per row. The 'und' entry
    wins whenever no score is positive (zero hits, or NULL scores: a struct
    with a NULL first field orders below it); any positive score beats
    it, and equal scores break to the earliest language."""
    entries = [
        F.struct(score.alias("s"), F.lit(-i).alias("no"), F.lit(lang).alias("l"))
        for i, (lang, score) in enumerate(zip(LANG_MARKERS, scores))
    ]
    entries.append(
        F.struct(
            F.lit(0).cast("bigint").alias("s"), F.lit(1).alias("no"), F.lit("und").alias("l")
        )
    )
    return F.array_max(F.array(*entries))["l"]


# redaction patterns stay inside the RE2 ∩ java.util.regex common subset so
# the Spark expression and the ANSI-SQL oracle replace identical spans
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
}


def with_pii_redaction(df, text_col: str, out_col: str = "text_redacted"):
    """Scrub emails/URLs from a text column — the minimum-viable PII pass
    every training-corpus pipeline runs before tokenization.

    Appends ``out_col`` (spans replaced by ``<EMAIL>``/``<URL>`` sentinels)
    and ``n_<kind>`` match counts per pattern. Pure JVM regex expressions —
    no Python in the path, patterns chosen for byte-identical behavior in
    DuckDB (RE2) for the oracle. Counting uses the pre-redaction text so
    counts and sentinels always agree."""
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(f"n_{kind}")
        for kind, pat in PII_PATTERNS.items()
    ]
    red = t
    for kind, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return df.select("*", *counts, red.alias(out_col))


def with_quality(df, text_col: str, out_cols=("n_bpe_tokens", "stopword_ratio", "quality")):
    """Single-pass quality columns: the expression forms (:func:`quality_score`
    etc.) re-tokenize per referencing expression when inlined into one
    projection; here the lowercase and original token arrays are aliased
    columns computed once per row, and every ratio derives from them.
    Identical math/rounding to the expression forms (same oracle)."""
    t = F.col(text_col)
    base = (
        df.withColumn("__lt", F.split(F.trim(F.lower(t)), r"\s+"))
        .withColumn("__tt", F.split(F.trim(t), r"\s+"))
    )
    n_l = F.size("__lt")
    hits = F.size(F.filter("__lt", lambda x: x.isin(STOPWORDS_EN)))
    sw = F.when(n_l > 0, hits.cast("double") / n_l.cast("double")).otherwise(F.lit(0.0))
    n_t = F.size("__tt")
    total_len = F.aggregate("__tt", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
    mtl = F.when(n_t > 0, total_len.cast("double") / n_t).otherwise(F.lit(0.0))
    pr = punct_ratio(t)
    len_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
    quality = F.round(
        F.least(sw * 4.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(pr * 5.0, F.lit(1.0))) * 0.3
        + len_ok * 0.3,
        6,
    )
    bpe, swc, qc = out_cols
    return base.select(
        *df.columns,
        bpe_ish_token_count(t).alias(bpe),
        F.round(sw, 6).alias(swc),
        quality.alias(qc),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def with_gopher_flags(
    df,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    min_stop_hits: int = 2,
):
    """Gopher-style document quality filter flags (Rae et al. 2021, the
    MassiveText filtering rules) — the standard pre-training corpus gate.

    Appends per-rule booleans and an overall ``gq_pass``:

    - word count within [min_words, max_words]
    - mean word length within [min, max]
    - symbol-to-word ratio (# and … characters per word) below cap
    - bullet-started lines / ellipsis-ended lines below caps
    - fraction of words containing an alphabetic character above floor
    - at least ``min_stop_hits`` DISTINCT common stopwords present

    Pure JVM expressions, token/line arrays computed once per row (aliased
    columns, not re-inlined — the single-evaluation discipline of
    ``with_seq_ngrams``); every rule is ANSI-SQL-replayable for the oracle.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    lines = F.split(F.col(text_col), r"\n")
    base = df.withColumn("__toks", toks).withColumn("__lines", lines)
    n_words = F.size("__toks")
    n_lines = F.size("__lines")
    mean_len = F.aggregate(
        "__toks", F.lit(0).cast("bigint"), lambda a, t: a + F.length(t)
    ).cast("double") / n_words
    n_symbols = (
        F.length(F.col(text_col))
        - F.length(F.regexp_replace(F.col(text_col), r"[#…]", ""))
    )
    bullet = F.size(
        F.filter("__lines", lambda l: F.trim(l).rlike(r"^[•\-\*]"))
    )
    ellipsis = F.size(
        F.filter("__lines", lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    alpha = F.size(F.filter("__toks", lambda t: t.rlike("[A-Za-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.transform("__toks", lambda t: F.lower(t)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = base.select(
        "*",
        ((n_words >= min_words) & (n_words <= max_words)).alias("gq_words"),
        ((mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)).alias(
            "gq_word_len"
        ),
        (n_symbols.cast("double") / n_words <= max_symbol_word_ratio).alias(
            "gq_symbols"
        ),
        (bullet.cast("double") / n_lines <= max_bullet_ratio).alias("gq_bullets"),
        (ellipsis.cast("double") / n_lines <= max_ellipsis_ratio).alias(
            "gq_ellipsis"
        ),
        (alpha.cast("double") / n_words >= min_alpha_ratio).alias("gq_alpha"),
        (stop_hits >= min_stop_hits).alias("gq_stopwords"),
    )
    rule_cols = [
        "gq_words", "gq_word_len", "gq_symbols", "gq_bullets",
        "gq_ellipsis", "gq_alpha", "gq_stopwords",
    ]
    return flags.withColumn(
        "gq_pass", F.expr(" AND ".join(rule_cols))
    ).drop("__toks", "__lines")


def bm25_topk(
    df,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """BM25 keyword retrieval over the corpus: top-``k`` documents for a
    bag of query terms (Robertson/Spärck Jones; the classic quality-weighted
    retrieval scorer, also the standard "find training docs about X" tool).

    Distributed shape — everything is aggregates over the posting explode:

    1. one explode → (doc, term) tf counts for QUERY TERMS ONLY (the filter
       is pushed into the explode, so the posting list never materializes
       for non-query terms),
    2. per-term document frequency as a window COUNT over that (doc, term)
       frame — NOT a second aggregate lineage: a separate ``tf.groupBy``
       re-derived the whole scan+tokenize+explode (column pruning gives the
       two subtrees different ReadSchemas, so ReuseExchange never fires),
       tripling the corpus scans with the (N, avgdl) pass. The window
       shuffles only the query-term posting rows (|terms| partitions' worth,
       ≪ corpus) and is partitioned — never a single-partition sort,
    3. global (N, avgdl) — a 1-row aggregate over its own tokenize pass
       (it must see docs with NO query terms, so it cannot come from the
       posting frame), broadcast back,
    4. the BM25 sum with ``ln((N - df + 0.5)/(df + 0.5) + 1)`` IDF, ranked
       (score desc, id asc; Catalyst rewrites the rank filter to a
       distributed TakeOrderedAndProject top-k — the final Window runs
       over exactly ``k`` rows).

    No UDFs; scores round to 6 digits. Returns (id, score, rank).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__t"),
    ).select("__id", F.size("__t").alias("__dl"), "__t")
    stats = toks.agg(
        F.count(F.lit(1)).alias("__n"),
        (F.sum("__dl") / F.count(F.lit(1))).alias("__avgdl"),
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    tf = (
        toks.select(
            "__id", "__dl",
            F.explode(F.filter("__t", lambda x: F.array_contains(terms, x))).alias("__term"),
        )
        .groupBy("__id", "__dl", "__term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    idf = F.log(
        (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0
    )
    contrib = idf * (
        (F.col("__tf") * (k1 + 1.0))
        / (F.col("__tf") + k1 * (1.0 - b + b * (F.col("__dl") / F.col("__avgdl"))))
    )
    # per-term contributions round to 9 digits and sum in DECIMAL: absorbs
    # the 1-ulp Java-vs-C `ln` divergence and makes the sum associative, so
    # the score hashes identically against the SQL oracle
    scored = (
        tf.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("__term"))
        )
        .join(F.broadcast(stats))
        .groupBy("__id")
        .agg(
            F.round(
                F.sum(F.round(contrib, 9).cast("decimal(27,9)")).cast("double"), 6
            ).alias("score")
        )
    )
    w = Window.orderBy(F.desc("score"), F.asc("__id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("__id").alias(id_col), "score", F.col("rank").cast("int").alias("rank"))
    )


def winnowing_fingerprints(
    df, id_col: str, text_col: str, n: int = 4, w: int = 4,
    portable_hash: bool = False,
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every word n-gram shingle, slide a window of ``w`` consecutive
    shingle hashes, keep each window's minimum — a deterministic, position-
    robust fingerprint set ~1/w the shingle count, the standard rolling-hash
    document fingerprinting scheme.

    Distributed shape: explode to (doc, pos, hash), per-doc window MIN over
    the next w positions (partitioned by doc — no global ordering), distinct.
    Returns (id, fingerprint) rows. Winnowing only needs a deterministic
    total order on hashes: ``portable_hash=True`` uses md5 hex strings
    (lexicographic min — reproducible in ANSI SQL for the oracle), False
    uses xxhash64 bigints (the fast path)."""
    from pyspark.ml.feature import NGram
    from pyspark.sql import Window

    # raw (sequential, non-distinct) shingles — winnowing is position-based
    toked = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("__toks"),
    )
    grams = NGram(n=n, inputCol="__toks", outputCol="__grams").transform(toked)
    seq = F.when(F.size("__toks") >= n, F.col("__grams")).otherwise(
        F.array(F.concat_ws(" ", "__toks"))
    )
    hash_fn = F.md5 if portable_hash else F.xxhash64
    sh = grams.select("__id", F.posexplode(seq).alias("__pos", "__s")).select(
        "__id", "__pos", hash_fn(F.col("__s")).alias("__h")
    )
    win = Window.partitionBy("__id").orderBy("__pos").rowsBetween(0, w - 1)
    return (
        sh.select("__id", F.min("__h").over(win).alias("fingerprint"))
        .distinct()
        .select(F.col("__id").alias(id_col), "fingerprint")
    )


def seq_ngrams(text: Column, n: int = 2) -> Column:
    """Sequential (position-preserving, NON-distinct) word n-grams — the
    input to within-document repetition measures. Texts shorter than ``n``
    tokens yield one whole-text gram."""
    toks = tokens(text)
    grams = _seq_ngram_array(toks, n)
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def _seq_ngram_array(toks: Column, n: int) -> Column:
    """Sequential word n-grams of a token ARRAY via shift-and-zip: zip_with
    and slice evaluate their array children once per row, so extraction is
    O(len·n). The indexed ``transform(idx, i -> concat_ws(slice(toks,
    i+1, n)))`` form re-inlines the tokenization into the lambda (Catalyst
    substitutes non-attribute children) and goes O(len²) — the same trap
    documented at ``lm.char_ngrams`` and ``tokenizer.pair_counts``.
    Caller must guard ``size(toks) >= n``."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, m)
    for shift in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, shift + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def repetition_ratio(text: Column, n: int = 2) -> Column:
    """Within-document repetition: fraction of n-gram OCCURRENCES that are
    repeats of an earlier occurrence — ``1 - distinct/total`` over sequential
    n-grams. The Gopher/MassiveText-style quality signal for filtering
    looping or boilerplate-stuffed documents; 0 = no repetition. Pure
    expression (no shuffle), deterministic double division of exact ints."""
    grams = seq_ngrams(text, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0, F.round((total - distinct).cast("double") / total.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def fingerprint_md5(text: Column) -> Column:
    """Exact-content fingerprint (md5 hex) — identical in Spark and DuckDB."""
    return F.md5(text)


def fingerprint64(text: Column) -> Column:
    """64-bit content fingerprint via xxhash64 (Spark-native, fast path for
    exact dedup at scale; not SQL-oracle-portable — use md5 for parity runs)."""
    return F.xxhash64(text)


def word_shingles(text: Column, n: int = 4) -> Column:
    """Distinct word-level n-gram shingles (``array<string>``) — the input to
    Jaccard/MinHash near-dup. Word-level keeps shingle cardinality bounded on
    natural text; `n` consecutive tokens joined by a single space.

    Expression form (usable anywhere a Column is). On the DataFrame hot path
    prefer :func:`with_shingles`, which produces identical arrays via the
    JVM-native ``pyspark.ml.feature.NGram`` (~5× faster than this
    higher-order-function formulation, which runs interpreted)."""
    toks = tokens(text)
    sh = _seq_ngram_array(toks, n)
    return F.array_distinct(
        F.when(F.size(toks) >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def with_shingles(
    df, text_col: str, n: int = 4, out_col: str = "__sh", distinct: bool = True
):
    """Word n-gram arrays via JVM-native ``pyspark.ml.feature.NGram`` — the
    gram generation stays in the JVM instead of interpreted higher-order
    functions, computed once per row (the aliased column is referenced, not
    inlined, downstream — Catalyst keeps non-cheap multi-referenced aliases
    single-evaluation). Texts shorter than ``n`` tokens yield one whole-text
    gram. ``distinct=True`` gives the shingle SET (:func:`word_shingles`
    semantics, dedup input); ``distinct=False`` the sequential occurrence
    list (:func:`seq_ngrams` semantics, repetition input). Appends
    ``out_col`` (array<string>) to ``df``."""
    from pyspark.ml.feature import NGram

    tok_col = f"{out_col}_toks"
    raw_col = f"{out_col}_raw"
    toked = df.withColumn(tok_col, F.split(F.trim(F.col(text_col)), r"\s+"))
    grams = NGram(n=n, inputCol=tok_col, outputCol=raw_col).transform(toked)
    seq = F.when(F.size(tok_col) >= n, F.col(raw_col)).otherwise(
        F.array(F.concat_ws(" ", tok_col))
    )
    return grams.withColumn(
        out_col, F.array_distinct(seq) if distinct else seq
    ).drop(tok_col, raw_col)


def with_seq_ngrams(df, text_col: str, n: int = 2, out_col: str = "__grams"):
    """Sequential NON-distinct word n-grams (:func:`with_shingles` with
    ``distinct=False``)."""
    return with_shingles(df, text_col, n, out_col, distinct=False)


# ------------------------------------------------------------- normalization
# Characters normalize_text maps to a plain space (unicode spaces, tab) and
# characters it deletes outright (C0/C1 controls except \n, DEL, zero-widths,
# BOM, soft hyphen). Explicit char LISTS, not \p{...} regex classes, so an
# ANSI-SQL oracle can replay the exact transform with translate() — unicode
# property tables differ between regex engines; a character list cannot.
_NORM_TO_SPACE = (
    "\t          "
    "     　"
)
_NORM_DROP = "".join(
    map(chr, [*range(0x00, 0x09), *range(0x0B, 0x20), 0x7F,
              *range(0x80, 0xA0),  # C1 incl. U+0085 NEL (cp1252 mojibake)
              0xAD, 0x200B, 0x200C, 0x200D, 0xFEFF])
)


def normalize_text(text: Column) -> Column:
    """Standard pre-dedup text normalization, entirely JVM-side expressions
    (zero Python in the hot path, pushdown-transparent):

    1. unicode spaces + tab → ASCII space; C0/C1 controls (except ``\\n``),
       DEL, zero-widths, BOM, soft hyphen → deleted (one ``translate``;
       dropping ``\\r`` turns CRLF into LF for free);
    2. runs of spaces collapse to one; spaces hugging a newline are dropped
       (keeps blank-line paragraph structure, removes trailing-space noise
       that breaks exact line/chunk dedup);
    3. leading/trailing spaces and newlines trimmed.

    Dedup pipelines run this BEFORE fingerprinting: two documents differing
    only in whitespace/control junk must collide, or exact dedup undercounts.
    Oracle replay (DuckDB): ``translate(x, <same char lists>, ...)`` then
    ``regexp_replace(.., ' +', ' ', 'g')``, ``regexp_replace(.., ' ?\\n ?',
    chr(10), 'g')``, ``trim(.., ' ' || chr(10))`` — byte-identical because
    the char lists are explicit.
    """
    t = F.translate(text, _NORM_TO_SPACE + _NORM_DROP, " " * len(_NORM_TO_SPACE))
    t = F.regexp_replace(t, " +", " ")
    t = F.regexp_replace(t, " ?\n ?", "\n")
    # btrim's second arg is ColumnOrName — a bare str would be read as a
    # column NAME, so the trim set must be an explicit literal
    return F.btrim(t, F.lit(" \n"))


def with_normalized(df, text_col: str, out_col: str | None = None):
    """Apply :func:`normalize_text`, replacing ``text_col`` in place unless
    ``out_col`` names a new column."""
    return df.withColumn(out_col or text_col, normalize_text(F.col(text_col)))


# html entity decode pairs, applied AFTER tag removal (decode-last cannot
# fabricate new tags from &lt;script&gt;-style escaped markup) — explicit
# list so the oracle replays the identical replace chain
_HTML_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),  # last: &amp;lt; must decode to &lt;, not <
)


def strip_html(text: Column) -> Column:
    """Boilerplate HTML → text extraction, entirely JVM-side regexps (the
    CommonCrawl-style WET step): script/style blocks and comments are
    removed wholesale, every remaining tag becomes a space, the explicit
    entity list decodes, and whitespace collapses. All patterns are
    RE2-compatible (non-greedy dot-all block matches, no backrefs), so a
    DuckDB oracle replays the chain byte-identically with
    ``regexp_replace(..., 'g')``; Java and RE2 agree on these constructs.
    Not a browser-grade parser — malformed-nesting edge cases degrade to
    extra whitespace, never to dropped text content.
    """
    t = F.regexp_replace(text, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    for ent, ch in _HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(ch))
    t = F.regexp_replace(t, " +", " ")
    return F.btrim(t, F.lit(" "))


def with_stripped_html(df, text_col: str, out_col: str | None = None):
    """Apply :func:`strip_html`, replacing ``text_col`` in place unless
    ``out_col`` names a new column."""
    return df.withColumn(out_col or text_col, strip_html(F.col(text_col)))


# ------------------------------------------------------- encoding diagnostics
# Explicit marker lists (same philosophy as _NORM_DROP: characters, not
# \p{...} classes, so a SQL oracle replays the exact counts). The
# double-encoding markers are the classic UTF-8-bytes-read-as-cp1252
# signatures: 'A-tilde'/'A-circumflex' lead bytes and the 'a-circumflex +
# euro' curly-quote family. Heuristic by nature — a capitalized
# Portuguese "SAO" in clean text can contain one marker — so this is a
# SCORER for filtering decisions, not a transform.
_MOJI_C1 = "".join(map(chr, range(0x80, 0xA0)))
_MOJI_REPLACEMENT = "\ufffd"
_MOJI_DOUBLE = ("\u00c3", "\u00c2", "\u00e2\u20ac", "\u00ef\u00bf\u00bd")


def _char_count(text: Column, chars: str) -> Column:
    return (
        F.length(text) - F.length(F.translate(text, chars, ""))
    ).cast("bigint")


def _marker_count(text: Column, marker: str) -> Column:
    gone = F.replace(text, F.lit(marker), F.lit(""))
    return (
        (F.length(text) - F.length(gone)) / F.lit(len(marker))
    ).cast("bigint")


def mojibake_counts(text: Column) -> dict[str, Column]:
    """Encoding-artifact marker counts: ``n_replacement`` (U+FFFD),
    ``n_c1`` (raw C1 controls 0x80-0x9F — cp1252 text mis-decoded as
    Latin-1), ``n_double_enc`` (UTF-8-read-as-cp1252 signatures,
    multi-char markers counted once per occurrence)."""
    double = None
    for m in _MOJI_DOUBLE:
        c = _marker_count(text, m)
        double = c if double is None else double + c
    return {
        "n_replacement": _char_count(text, _MOJI_REPLACEMENT),
        "n_c1": _char_count(text, _MOJI_C1),
        "n_double_enc": double,
    }


def with_mojibake(df, text_col: str):
    """Append the :func:`mojibake_counts` columns plus
    ``mojibake_per_10k`` — total markers per 10k characters, BIGINT
    (``total*10000 div max(length,1)``), the filter-threshold score.
    Pure codegen expressions (translate/replace/length): one scan, zero
    shuffles, zero Python — the 100 TB sweep cost is the read itself."""
    counts = mojibake_counts(F.col(text_col))
    out = df
    for name, c in counts.items():
        out = out.withColumn(name, c)
    return out.withColumn(
        "mojibake_per_10k",
        F.expr(
            "({t}) * CAST(10000 AS BIGINT) div greatest(length({c}), 1)".format(
                t=" + ".join(counts), c=text_col
            )
        ).cast("bigint"),
    )


# --------------------------------------------------------- code-switch audit
def _seg_lang(arr: Column) -> Column:
    """lang_id's argmax over an already-tokenized (lowercased) array —
    same scores, same earliest-lang tie-break, zero hits → 'und'."""
    return _lang_argmax([
        F.size(F.filter(arr, lambda t: t.isin(markers))).cast("bigint")
        for markers in LANG_MARKERS.values()
    ])


# per-language bit width for the packed per-token marker code: a segment
# holds < 2^12 tokens (window_words is vastly below 4096 in practice and
# guarded in with_lang_segments), so 5 languages fit one BIGINT with room
_LANG_BITS = 12


def _token_lang_code() -> "Column":
    """Packed marker code for ONE lowercased token ``t``: language ``i``'s
    bit-field gains 1 when the token is one of that language's markers —
    ``Σ_i (t IN markers_i) << (12·i)``. A token matching markers of
    several languages (e.g. 'la' is both es and fr) contributes to each,
    exactly like the per-language filters it replaces."""
    def code(t: Column) -> Column:
        parts = [
            F.when(t.isin(markers), F.lit(1 << (_LANG_BITS * i)).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint"))
            for i, markers in enumerate(LANG_MARKERS.values())
        ]
        total = parts[0]
        for p in parts[1:]:
            total = total + p
        return total

    return code


def _packed_lang(packed: Column) -> Column:
    """_seg_lang's argmax over a PACKED per-segment score word instead of
    re-filtering the token slice per language: score ``i`` is bit-field
    ``(packed >> 12·i) & 4095``. Same struct ordering — (score, -i, lang),
    array_max — so ties break to the earliest LANG_MARKERS entry, and a
    NULL packed word (null text) propagates NULL scores → 'und', exactly
    as the filter form did."""
    mask = (1 << _LANG_BITS) - 1
    return _lang_argmax([
        F.shiftright(packed, _LANG_BITS * i).bitwiseAND(F.lit(mask).cast("bigint")).cast("bigint")
        for i in range(len(LANG_MARKERS))
    ])


def with_lang_segments(df, id_col: str, text_col: str, window_words: int = 20):
    """Code-switching audit: split each document into consecutive
    ``window_words``-token segments, language-ID each segment (the same
    marker-word argmax as :func:`lang_id`), and report per document:
    ``n_segments``, ``majority_lang`` (most frequent segment language,
    ties to the lexicographically LARGEST language — deterministic and
    SQL-replayable), ``n_majority``, ``minority_ppm`` (segments not in
    the majority language, parts-per-million, BIGINT), and ``n_switches``
    (adjacent segment-language changes — 0 for monolingual documents).

    Everything is row-local array HOFs over the document's own token
    array — ZERO shuffle at any corpus size; the sweep cost is the scan.
    'und' segments (no marker hits) count as a language of their own.
    Documents with no tokens get one 'und' segment rather than vanishing.

    Allocation shape (the r10 bench-outlier fix): HOF expressions run
    interpreted (CodegenFallback), so per-object churn is the cost model.
    The original form re-sliced the token array and materialized a
    filtered array PER LANGUAGE per segment — ~10 array allocations per
    segment — which made the stage GC-bound and the single most
    contention-amplified query in the suite (18.1 s driver vs 1.7 s
    local in BENCH_r09). Now each token is mapped ONCE to a packed
    BIGINT marker code (12 bits per language), each segment reduces its
    code slice with a primitive-long ``aggregate``, and the argmax reads
    bit-fields — per segment: one slice, one fold, five 3-field structs.
    Values are byte-identical (same scores, same tie-break, same 'und'
    and NULL propagation — pinned by tests/test_lang_segments.py).
    """
    if window_words < 1:
        raise ValueError(f"window_words must be >= 1, got {window_words}")
    if window_words >= (1 << _LANG_BITS):
        raise ValueError(
            f"window_words must be < {1 << _LANG_BITS} "
            "(per-language packed-count bit width)"
        )
    w = int(window_words)
    # materialize the token array as a real column BEFORE the per-segment
    # lambda: an outer expression referenced inside transform() re-evaluates
    # per element, which would re-split the full text once per segment
    toked = df.withColumn("__toks", tokens(F.lower(F.col(text_col))))
    nseg = F.greatest(
        F.lit(1).cast("bigint"),
        F.expr(f"CAST(size(__toks) + {w - 1} AS BIGINT) div {w}"),
    )
    # stage 1: one packed marker code per token (computed once per doc)
    codes = F.transform(F.col("__toks"), _token_lang_code())
    toked = toked.withColumn("__codes", codes)
    # stage 2: one packed score word per segment — a primitive-long fold
    # over the segment's code slice, materialized as its own column so the
    # per-language bit-field reads in stage 3 don't re-run the fold
    packed = F.transform(
        F.sequence(F.lit(1).cast("bigint"), nseg),
        lambda i: F.aggregate(
            F.slice(F.col("__codes"), (i - 1) * w + 1, w),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ),
    )
    toked = toked.withColumn("__packed", packed)
    # stage 3: per-segment argmax over the packed word's five bit-fields
    langs = F.transform(F.col("__packed"), _packed_lang)
    staged = toked.withColumn("__langs", langs).drop("__toks", "__codes", "__packed")
    ls = F.col("__langs")
    counts = F.transform(
        F.array_distinct(ls),
        lambda lg: F.struct(
            F.size(F.filter(ls, lambda x: x == lg)).cast("bigint").alias("n"),
            lg.alias("l"),
        ),
    )
    staged = staged.withColumn("__best", F.array_max(counts))
    best = F.col("__best")
    n = F.size(ls).cast("bigint")
    # guard: sequence(2, 1) would DESCEND in Spark, so single-segment
    # documents must short-circuit to zero switches
    switches = F.when(
        F.size(ls) > 1,
        F.size(
            F.filter(
                F.sequence(F.lit(2), F.size(ls)),
                lambda i: F.element_at(ls, i) != F.element_at(ls, i - 1),
            )
        ),
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        staged.withColumn("n_segments", n)
        .withColumn("majority_lang", best["l"])
        .withColumn("n_majority", best["n"])
        .withColumn(
            "minority_ppm",
            F.expr("(n_segments - n_majority) * CAST(1000000 AS BIGINT) "
                   "div n_segments"),
        )
        .withColumn("n_switches", switches)
        .drop("__langs", "__best")
    )


def windowed_ttr_ppm(text: Column, window: int = 50) -> Column:
    """Windowed type-token ratio in exact ppm — the lexical-diversity
    quality signal with the classic length-bias fix: raw TTR collapses as
    documents grow (vocabulary saturates), so the ratio is computed per
    fixed-size token window and averaged. Low values flag keyword-stuffed
    / template text that repetition-based gates miss when the repeats are
    spread out.

    Per window ``floor(distinct·1e6 / size)`` (the final partial window
    uses its ACTUAL size, so short docs aren't penalized); document score
    = ``floor(Σ window_ppm / n_windows)``. The floor-of-double divisions
    are exact-integer-safe here: operands stay far below 2^53 and the
    true quotient is never within one ulp of an integer boundary (the
    fractional part is a multiple of 1/size ≥ 1/window), so both engines
    floor identically. Pure HOF expression — one row-local pass, zero
    shuffle, byte-identical SQL replay. NULL for empty/whitespace text.
    """
    toks = tokens(text)
    w = int(window)
    if w < 1:
        raise ValueError("windowed_ttr_ppm requires window >= 1")
    n_win = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    win_ppm = F.transform(
        F.sequence(F.lit(0), n_win - 1),
        lambda i: F.floor(
            F.size(F.array_distinct(F.slice(toks, i * w + 1, w)))
            .cast("bigint")
            * F.lit(1_000_000).cast("bigint")
            / F.size(F.slice(toks, i * w + 1, w))
        ).cast("bigint"),
    )
    total = F.aggregate(
        win_ppm, F.lit(0).cast("bigint"), lambda acc, v: acc + v
    )
    return F.when(
        F.size(toks) > 0,
        F.floor(total / n_win.cast("bigint")).cast("bigint"),
    )
