"""Text analysis operators over a documents table
(doc_id, text, lang, source, n_chars): language-ID, quality scoring,
token counting, fingerprinting.

All pure Catalyst column expressions — JVM-side, whole-stage codegen,
no UDFs — so they run at scan speed and push projections down.  Each
has an ANSI-SQL twin in __spark_entry__.oracle_sql().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# distinctive high-frequency function words per language (tiny, fixed
# vocabulary — a heuristic n-gram/stopword language model)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "es": ["el", "la", "los", "que"],
    "de": ["der", "die", "und", "nicht"],
    "fr": ["le", "les", "des", "est"],
}


def token_count(text: Column) -> Column:
    """Whitespace tokenization count (0 for empty/blank)."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on whitespace AND between
    letter/digit/punct class transitions (a cheap BPE proxy).
    ``regexp_count`` — same match count as
    ``size(regexp_extract_all(...))`` without materializing an array
    of every matched substring per row (guide §4.1: prefer the
    cheapest built-in; the extract_all arrays were pure allocation)."""
    return F.regexp_count(text, F.lit(r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]")).cast("long")


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    # count punctuation chars directly — the r6 shape built a full
    # stripped COPY of the text per row (regexp_replace) just to take
    # its length
    punct = F.regexp_count(text, F.lit(r"[.,;:!?'\"()\[\]{}-]"))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(text: Column, words: list[str] | None = None) -> Column:
    words = words or LANG_MARKERS["en"]
    pat = r"\b(" + "|".join(words) + r")\b"
    hits = F.regexp_count(F.lower(text), F.lit(pat))
    toks = token_count(text)
    return F.when(toks == 0, F.lit(0.0)).otherwise(hits.cast("double") / toks)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punct noise
    + presence of function words.  Deterministic and cheap; mirrors
    C4/Gopher-style rule scoring."""
    n = F.length(text)
    len_score = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    punct_score = F.when(punct_ratio(text) < 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.when(stopword_ratio(text) > 0.01, F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_score + punct_score + stop_score) / 3.0, 6)


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    lowered = F.lower(text)
    out = []
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out.append((lang, F.regexp_count(lowered, F.lit(pat))))
    return out


def lang_id(text: Column) -> Column:
    """Marker-word language ID → {en,es,de,fr,unknown}.  Ties and
    zero-evidence → 'unknown' (e.g. the zh docs here, which carry no
    latin marker words).

    The winner is ``greatest(scores)`` matched back to the FIRST
    language attaining it — identical semantics to the r6 iterative
    strictly-greater fold (first maximal language wins ties), but the
    expression tree is LINEAR in #languages: the fold nested each
    partial best-score twice per step (once in the condition, once in
    the else), duplicating every marker-regex count ~2^k times; the
    single lang_id column alone cost 10.1s of text_analyze's 17s at
    sf1.0 local[32] (r7 profile; guide §1.2 per-task work)."""
    scores = lang_scores(text)
    m = F.greatest(*[s for _, s in scores])
    best = None
    for lang, s in scores:
        best = F.when(s == m, F.lit(lang)) if best is None else best.when(
            s == m, F.lit(lang)
        )
    return F.when(m > 0, best).otherwise(F.lit("unknown"))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized lowercase text (rolling-hash analog that is
    reproducible in any engine)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def analyze(documents: DataFrame) -> DataFrame:
    """One-pass text-analysis projection of a documents table.

    Each regex/split primitive is computed ONCE in a first projection
    and every output column derives from those attribute refs: the
    flat r6 formulation re-evaluated the stopword count three times
    (ratio, quality, en-lang-score), the punct count twice and the
    token split twice per row — Catalyst does not de-duplicate
    non-cheap expressions across alias trees, and CollapseProject
    keeps the two projections separate precisely because the refs are
    used more than once.  Same values, ~half the regex passes
    (measured at sf1.0 local[32]: 17.7s → 8.8s from the lang_id fix,
    then → ~5s from this; guide §1.2 per-task work)."""
    t = F.col("text")
    lowered = F.lower(t)
    marker_cols = {}
    for lang, words in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        marker_cols[lang] = F.regexp_count(lowered, F.lit(pat)).alias(f"__m_{lang}")
    base = documents.select(
        "doc_id",
        token_count(t).alias("__ntok"),
        bpe_ish_token_count(t).alias("n_subtokens"),
        F.regexp_count(t, F.lit(r"[.,;:!?'\"()\[\]{}-]")).alias("__punct"),
        F.length(t).alias("__len"),
        *marker_cols.values(),
        fingerprint(t).alias("fp"),
    )
    n = F.col("__len")
    ntok = F.col("__ntok")
    punct_r = F.when(n == 0, F.lit(0.0)).otherwise(F.col("__punct") / n)
    stop_r = F.when(ntok == 0, F.lit(0.0)).otherwise(
        F.col("__m_en").cast("double") / ntok
    )
    len_score = (
        F.when((n >= 50) & (n <= 20000), F.lit(1.0)).when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct_score = F.when(punct_r < 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.when(stop_r > 0.01, F.lit(1.0)).otherwise(F.lit(0.5))
    quality = F.round((len_score + punct_score + stop_score) / 3.0, 6)
    scores = [(lang, F.col(f"__m_{lang}")) for lang in LANG_MARKERS]
    m = F.greatest(*[s for _, s in scores])
    best = None
    for lang, s in scores:
        best = F.when(s == m, F.lit(lang)) if best is None else best.when(
            s == m, F.lit(lang)
        )
    lang_pred = F.when(m > 0, best).otherwise(F.lit("unknown"))
    return base.select(
        "doc_id",
        ntok.alias("n_tokens"),
        "n_subtokens",
        F.round(punct_r, 6).alias("punct_ratio"),
        F.round(stop_r, 6).alias("stopword_ratio"),
        quality.alias("quality"),
        lang_pred.alias("lang_pred"),
        "fp",
    )


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking for training-data pipelines:
    whitespace tokens sliced into windows of ``chunk_tokens`` stepping
    by ``chunk_tokens - overlap``.  Pure Catalyst (split + sequence +
    explode + slice) — no UDF, no shuffle beyond the parent scan, and
    output partitioning follows the input so a downstream tokenizer
    or dedup stage reads co-located chunks.  Deterministic: the
    DuckDB twin in __spark_entry__.oracle_sql() restates the same
    window arithmetic.  Empty documents produce no chunks."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    trimmed = F.trim(F.col(text_col))
    toks = F.split(trimmed, r"\s+")
    n = F.when(trimmed == "", F.lit(0)).otherwise(F.size(toks))
    num_chunks = F.floor((F.col("__n") - 1) / step) + 1
    out = (
        documents.select(
            F.col(id_col), toks.alias("__toks"), n.alias("__n")
        )
        .where(F.col("__n") > 0)
        .select(
            id_col,
            "__toks",
            "__n",
            F.explode(F.sequence(F.lit(0), (num_chunks - 1).cast("int"))).alias(
                "chunk_id"
            ),
        )
    )
    start = F.col("chunk_id") * step
    piece = F.slice(F.col("__toks"), start + 1, chunk_tokens)
    return out.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def sample_stratified(
    documents: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 0,
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling (e.g. language rebalancing
    for a training mix): a document is kept iff
    ``portable_hash64(seed:doc_id) mod 1e6 < rate[stratum] * 1e6``.
    Hash-gated (not rand()): reproducible across runs, cluster sizes
    and engines — the DuckDB oracle applies the identical md5-prefix
    arithmetic.  One narrow filter over the scan; no shuffle."""
    from de_spark.ops.dedup import portable_hash64

    h = portable_hash64(F.col(id_col).cast("string"), seed=seed)
    bucket = F.pmod(h, F.lit(1_000_000))
    rate = None
    for k, v in sorted(rates.items()):
        cond = F.col(strata_col) == k
        thr = F.lit(int(v * 1_000_000))
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    rate = (
        rate.otherwise(F.lit(int(default_rate * 1_000_000)))
        if rate is not None
        else F.lit(int(default_rate * 1_000_000))
    )
    return documents.where(bucket < rate)


# PII-like span patterns (shared, RE2/Java-compatible subset: no
# backreferences or lookaround, so the Spark and DuckDB twins match)
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    (r"\d{9,}", "[NUM]"),
]


def scrub_pii(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    engine: str = "arrow",
) -> DataFrame:
    """Redact PII-like spans (emails, IPv4 addresses, long digit runs)
    → (doc_id, clean_text, n_redactions).

    Patterns apply SEQUENTIALLY (each count runs on the previous
    stage's output; replacement tokens contain no digits/@, so stages
    never create new matches) — the DuckDB oracle restates the same
    staging.

    ``engine="arrow"`` (default) runs the six regex passes as
    ``pyarrow.compute`` kernels over Arrow batches (guide §4.2): RE2
    scans ~2× faster than java.util.regex on this shape (measured
    sf0.1 local[32]: 0.77s → 0.33s), only the two needed columns
    cross the Python boundary, and RE2 is the same regex engine the
    DuckDB oracle uses.  ``engine="jvm"`` keeps the pure-Catalyst
    ``regexp_count``/``regexp_replace`` formulation; the two are
    result-identical (pinned by
    tests/test_ops.py::test_scrub_pii_engines_agree — the patterns
    use only ASCII classes, \\b and bounded quantifiers, where Java
    and RE2 semantics coincide).  Both are per-row maps: no shuffle,
    trivially parallel at 100 TB."""
    if engine == "arrow":
        import pyarrow as pa

        src = documents.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )

        def scrub_batches(batches):
            import pyarrow.compute as pc

            for b in batches:
                t, n = b.column("text"), None
                for pat, rep in PII_PATTERNS:
                    c = pc.count_substring_regex(t, pat)
                    n = c if n is None else pc.add(n, c)
                    t = pc.replace_substring_regex(t, pat, rep)
                yield pa.RecordBatch.from_arrays(
                    [b.column("doc_id"), t, pc.cast(n, pa.int64())],
                    ["doc_id", "clean_text", "n_redactions"],
                )

        id_type = src.schema["doc_id"].dataType.simpleString()
        return src.mapInArrow(
            scrub_batches,
            f"doc_id {id_type}, clean_text string, n_redactions bigint",
        )
    t = F.col(text_col)
    n = F.lit(0)
    for pat, rep in PII_PATTERNS:
        # regexp_count == size(split(t, pat)) - 1 (split keeps trailing
        # empties at limit -1) without building the piece array
        n = n + F.regexp_count(t, F.lit(pat))
        t = F.regexp_replace(t, pat, rep)
    return documents.select(
        F.col(id_col).alias("doc_id"),
        t.alias("clean_text"),
        n.cast("long").alias("n_redactions"),
    )
