"""PII detection / redaction for training-data curation.

Scale contract: pure Column algebra (`regexp_replace` /
`regexp_extract_all` run inside whole-stage codegen, one scan, no
shuffle, no Python). Patterns deliberately avoid lookbehind/lookahead
so the SAME pattern strings run under Java regex (Spark) and RE2
(DuckDB oracle) with identical semantics.

The reference has no PII surface (it is a schema-validation library);
this is part of the LLM-pipeline operator set the engine adds (SURVEY
§2.4 scope note)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# kind -> (pattern, replacement token). Patterns are Java+RE2 compatible:
# character classes, bounded quantifiers, \b word boundaries only.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (
        r"\b(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3}\b",
        "<IP>",
    ),
    "ssn": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<SSN>"),
    "phone": (r"\+[0-9]{1,2}[- ]?\([0-9]{3}\)[- ]?[0-9]{3}[- ]?[0-9]{4}", "<PHONE>"),
}

_ORDER = ("email", "ipv4", "ssn", "phone")


def pii_counts(text: Column, kinds: tuple[str, ...] = _ORDER) -> list[Column]:
    """One count column per kind (aliased n_<kind>)."""
    return [
        F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[k][0]), 0)).alias(
            f"n_{k}"
        )
        for k in kinds
    ]


def scrub_pii(text: Column, kinds: tuple[str, ...] = _ORDER) -> Column:
    """Redact every PII kind, applied in fixed order so overlapping
    matches resolve deterministically (email before ipv4 so the host
    part of an address is not half-redacted)."""
    out = text
    for k in kinds:
        pat, repl = PII_PATTERNS[k]
        out = F.regexp_replace(out, pat, repl)
    return out
