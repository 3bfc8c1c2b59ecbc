"""SQL safety validator (N4) — SELECT-only gate with threat levels.

Parity with ``chatbot/security/query_validator.py:49–298``: dangerous-
operation registries graded CRITICAL/HIGH/MEDIUM, injection-pattern scan,
and an error sanitizer that never leaks schema/internal detail back to the
user. Validation runs BEFORE ``spark.sql`` ever sees the string.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import Enum


class ThreatLevel(Enum):
    LOW = "low"
    MEDIUM = "medium"
    HIGH = "high"
    CRITICAL = "critical"


# operation keyword → threat level (``query_validator.py:53–98``)
DESTRUCTIVE = {
    "DROP": ThreatLevel.CRITICAL,
    "TRUNCATE": ThreatLevel.CRITICAL,
    "DELETE FROM": ThreatLevel.CRITICAL,
    "ALTER TABLE": ThreatLevel.CRITICAL,
}
MODIFICATION = {
    "UPDATE": ThreatLevel.HIGH,
    "INSERT INTO": ThreatLevel.HIGH,
    "REPLACE INTO": ThreatLevel.HIGH,
    "MERGE": ThreatLevel.HIGH,
}
SYSTEM_OPS = {
    "EXEC": ThreatLevel.HIGH,
    "EXECUTE": ThreatLevel.HIGH,
    "CALL": ThreatLevel.HIGH,
}
PRIVILEGE = {
    "GRANT": ThreatLevel.HIGH,
    "REVOKE": ThreatLevel.HIGH,
    "CREATE USER": ThreatLevel.HIGH,
}
SCHEMA_OPS = {
    "CREATE TABLE": ThreatLevel.MEDIUM,
    "CREATE VIEW": ThreatLevel.MEDIUM,
    "CREATE FUNCTION": ThreatLevel.MEDIUM,
}

# injection patterns (``query_validator.py:101–113``)
INJECTION_PATTERNS = (
    r"'\s*OR\s*'1'\s*=\s*'1",
    r"'\s*OR\s*1\s*=\s*1",
    r"--",
    r"/\*.*?\*/",
    r";\s*DROP",
    r"INTO\s+OUTFILE",
    r"LOAD_FILE",
    r"BENCHMARK\(",
    r"SLEEP\(",
    r"WAITFOR\s+DELAY",
)


@dataclass
class ValidationResult:
    is_safe: bool
    reason: str
    threat_level: ThreatLevel | None = None
    matched: str | None = None


def _word_hit(op: str, sql_upper: str) -> bool:
    return re.search(rf"(?<![A-Z_]){re.escape(op)}(?![A-Z_])", sql_upper) is not None


def validate_sql(sql: str) -> ValidationResult:
    """SELECT/WITH-only + dangerous-operation + injection scan."""
    if not sql or not sql.strip():
        return ValidationResult(False, "empty query", ThreatLevel.LOW)
    stripped = sql.strip()
    upper = stripped.upper()

    # Graded registries first so the report carries the precise threat
    # level (a DROP is CRITICAL, not just "not a SELECT").
    for registry in (DESTRUCTIVE, MODIFICATION, SYSTEM_OPS, PRIVILEGE, SCHEMA_OPS):
        for op, level in registry.items():
            if _word_hit(op, upper):
                return ValidationResult(False, f"dangerous operation: {op}", level, op)

    if ";" in stripped.rstrip(";"):
        return ValidationResult(
            False, "stacked statements are not allowed", ThreatLevel.HIGH, ";"
        )
    if not (upper.startswith("SELECT") or upper.startswith("WITH")):
        return ValidationResult(
            False, "only SELECT queries are allowed", ThreatLevel.HIGH, stripped.split()[0]
        )

    for pat in INJECTION_PATTERNS:
        if re.search(pat, stripped, flags=re.IGNORECASE):
            return ValidationResult(
                False, "possible injection pattern", ThreatLevel.HIGH, pat
            )
    return ValidationResult(True, "ok", None)


def sanitize_error(exc: Exception) -> str:
    """User-safe error text: strip paths, JVM frames, and schema details
    (``query_validator.py`` error sanitizer)."""
    # a Spark parse error's text starts with a blank line
    msg = next((ln for ln in str(exc).splitlines() if ln.strip()), exc.__class__.__name__)
    msg = re.sub(r"(/[\w./-]+)+", "<path>", msg)
    msg = re.sub(r"`[^`]+`", "<identifier>", msg)
    return msg[:200]
