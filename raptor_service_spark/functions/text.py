"""Scalar text functions (SURVEY.md §2.8) — all JVM-side Spark SQL expressions.

Each carries its reference citation and, where it participates in the oracle
gate, a DuckDB-identical SQL fragment builder.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def chunk_id(doc_id: Column, idx: Column) -> Column:
    """'{doc_id}::c{i}' (reference services/document/chunk_service.py:27)."""
    return F.format_string("%s::c%d", doc_id, idx)


def summary_node_id(tree_id: Column, level: Column, cell: Column) -> Column:
    """Deterministic summary-node id: sha256(tree_id|level|cell).

    Replaces the reference's non-deterministic uuid4 suffix
    (utils/render_id.py:21-22) — required for re-runs/resume (SURVEY §1.3).
    """
    return F.sha2(F.concat_ws("|", tree_id, level.cast("string"), cell.cast("string")), 256)


def token_count(text: Column) -> Column:
    """Deterministic whitespace token-count proxy (reference utils/token.py:50-66
    uses remote tokenizers; must be hermetic here — SURVEY §2.8 F4)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("int")


def token_count_sql(expr: str) -> str:
    """DuckDB-identical token count."""
    return (
        f"CASE WHEN trim({expr}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({expr}), '\\s+')) END"
    )


_BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (brief: whitespace + a BPE-ish regex):
    letter runs, single digits, and punctuation each count as one token —
    the GPT-2-style pre-tokenization shape, hermetic (no tokenizer model).
    The pattern is Java/RE2-portable, so the DuckDB twin is bit-identical."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_PATTERN), F.lit(0))).cast("int")


def token_count_bpe_sql(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, "
        f"'[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS INTEGER)"
    )


def truncate_to_tokens(text: Column, max_tokens: int, chars_per_token: float = 4.0) -> Column:
    """Char-ratio truncation to a token budget (reference utils/token.py:98-106)."""
    return F.substring(text, 1, int(max_tokens * chars_per_token))


def normalize_query(
    text: Column,
    soft_cap: int = 4000,
    hard_cap: int = 8000,
    target_tokens: int = 2000,
    chars_per_token: float = 4.0,
) -> Column:
    """Query length policy (reference services/retrieval/
    query_rewrite_service.py:48-67 + constants/query.py:1-3):
    <= soft_cap tokens -> pass through; <= hard_cap -> rewrite down to
    target_tokens (the LLM rewrite is replaced by the deterministic
    char-ratio truncation, utils/token.py:98-106); beyond hard_cap -> NULL
    (the reference raises 400 — a relational operator signals rejection with
    NULL and lets the caller filter)."""
    n = token_count(text)
    return (
        F.when(n <= soft_cap, text)
        .when(n <= hard_cap, truncate_to_tokens(text, target_tokens, chars_per_token))
        .otherwise(F.lit(None).cast("string"))
    )


def normalize_query_sql(
    expr: str,
    soft_cap: int = 4000,
    hard_cap: int = 8000,
    target_tokens: int = 2000,
    chars_per_token: float = 4.0,
) -> str:
    n = token_count_sql(expr)
    trunc = int(target_tokens * chars_per_token)
    return (
        f"CASE WHEN {n} <= {soft_cap} THEN {expr} "
        f"WHEN {n} <= {hard_cap} THEN substring({expr}, 1, {trunc}) "
        f"ELSE NULL END"
    )


def fake_summarize(texts: Column, max_chars: int = 512) -> Column:
    """Deterministic test summarizer: '\\n'.join(texts)[:max], mirroring the
    reference's test fake (/root/reference/tests/services/test_build_api.py:14-15).
    Operates on an array<string> column, JVM-side."""
    return F.substring(F.concat_ws("\n", texts), 1, max_chars)


# ---------------------------------------------------------------------------
# training-data text analysis (graft-new, SURVEY.md brief: language-ID,
# quality scoring, fingerprinting)
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "an", "of", "to", "in", "and", "is", "it", "that")

_LANG_MARKERS = {
    # tiny deterministic n-gram/stopword heuristic; hermetic (no model download)
    "en": ("the", "and", "of", "to"),
    "de": ("der", "und", "die", "nicht"),
    "fr": ("le", "la", "les", "est"),
    "es": ("el", "los", "que", "una"),
}


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length, punctuation ratio, stopword hit.

    length_score = least(1, n_chars/500); alpha_ratio; stopword presence.
    """
    n = F.length(text)
    length_score = F.least(F.lit(1.0), n.cast("double") / F.lit(500.0))
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z ]", ""))
    alpha_ratio = F.when(n > 0, alpha.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    lower = F.lower(text)
    has_stop = F.when(
        sum([(F.array_contains(F.split(lower, r"\s+"), w)).cast("int") for w in _STOPWORDS])
        > 0,
        F.lit(1.0),
    ).otherwise(F.lit(0.0))
    return F.round((length_score + alpha_ratio + has_stop) / F.lit(3.0), 6)


def quality_score_sql(expr: str) -> str:
    stop_hits = " + ".join(
        f"CASE WHEN list_contains(regexp_split_to_array(lower({expr}), '\\s+'), '{w}') THEN 1 ELSE 0 END"
        for w in _STOPWORDS
    )
    n = f"length({expr})"
    alpha = f"length(regexp_replace({expr}, '[^A-Za-z ]', '', 'g'))"
    return (
        f"ROUND((LEAST(1.0, {n} / 500.0) + "
        f"CASE WHEN {n} > 0 THEN CAST({alpha} AS DOUBLE) / {n} ELSE 0.0 END + "
        f"CASE WHEN ({stop_hits}) > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 6)"
    )


def lang_id(text: Column) -> Column:
    """Deterministic marker-word language guess; 'und' when no marker hits."""
    lower = F.lower(text)
    toks = F.split(lower, r"\s+")
    expr = F.lit("und")
    # build reversed so earlier languages win ties
    for lang, markers in reversed(list(_LANG_MARKERS.items())):
        hits = sum([(F.array_contains(toks, m)).cast("int") for m in markers])
        expr = F.when(hits >= 1, F.lit(lang)).otherwise(expr)
    return expr


def lang_id_sql(expr: str) -> str:
    toks = f"regexp_split_to_array(lower({expr}), '\\s+')"
    sql = "'und'"
    for lang, markers in reversed(list(_LANG_MARKERS.items())):
        hits = " + ".join(
            f"CASE WHEN list_contains({toks}, '{m}') THEN 1 ELSE 0 END" for m in markers
        )
        sql = f"CASE WHEN ({hits}) >= 1 THEN '{lang}' ELSE {sql} END"
    return sql


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.

    md5 exists identically in Spark and DuckDB -> oracle-exact.
    """
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g'))"


def hash_split(
    key: Column, train_pct: int = 90, valid_pct: int = 5, buckets: int = 100
) -> Column:
    """Deterministic train/valid/test assignment by md5 bucket of the key.

    The stable-split primitive every training pipeline needs: assignment
    depends only on the key (never on partitioning, ordering, or sampling
    RNG), so re-runs, appends, and engine changes keep every document on the
    same side of the split. md5 is bit-identical across Spark and DuckDB ->
    oracle-exact.
    """
    bucket = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % buckets
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def hash_split_sql(
    key_expr: str, train_pct: int = 90, valid_pct: int = 5, buckets: int = 100
) -> str:
    bucket = (
        f"(('0x' || substr(md5(CAST({key_expr} AS VARCHAR)), 1, 8))::BIGINT % {buckets})"
    )
    return (
        f"CASE WHEN {bucket} < {train_pct} THEN 'train' "
        f"WHEN {bucket} < {train_pct + valid_pct} THEN 'valid' "
        f"ELSE 'test' END"
    )


# ---------------------------------------------------------------------------
# PII redaction + markup stripping (training-data scrub stage)
# ---------------------------------------------------------------------------

# ordered: IDs before phones (an SSN-shaped string also matches the phone
# charset), emails before anything that could eat their digits. Patterns are
# deliberately restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): char classes, \b, greedy {n,} — no backrefs,
# no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("id", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[ID]"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "[PHONE]"),
]


def redact_pii(text: Column) -> Column:
    """Replace emails / SSN-shaped ids / IPv4s / phone runs with bracket
    tokens — chained JVM regexp_replace, whole-stage codegen, no UDF."""
    out = text
    for _, pat, tok in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def redact_pii_sql(expr: str) -> str:
    out = expr
    for _, pat, tok in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{tok}', 'g')"
    return out


def strip_markup(text: Column) -> Column:
    """Boilerplate scrub: drop tags + HTML entities, collapse whitespace."""
    out = F.regexp_replace(text, r"<[^>]+>", " ")
    out = F.regexp_replace(out, r"&[A-Za-z]+;", " ")
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_markup_sql(expr: str) -> str:
    out = f"regexp_replace({expr}, '<[^>]+>', ' ', 'g')"
    out = f"regexp_replace({out}, '&[A-Za-z]+;', ' ', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"
