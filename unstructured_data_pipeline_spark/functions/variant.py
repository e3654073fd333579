"""VARIANT-equivalent handling.

The reference stores arbitrary JSON in Snowflake VARIANT columns and
JSON-encodes non-scalar Python values client-side before writes ("VARIANT
safety", `app/Auto-Magic Document AI.py:276-283`).  We model VARIANT as a
canonically-serialized JSON string column: compact separators and sorted keys
so equal values always serialize to equal bytes — required because the
DuckDB-oracle correctness gate hashes values (SURVEY.md section 7 risks).
"""

from __future__ import annotations

import json
from typing import Any

# compact encoding, matching the reference's client-side json.dumps usage
# (`app.py:187,203`) plus sort_keys for canonical bytes.
_DUMPS_KW = dict(separators=(",", ":"), sort_keys=True, ensure_ascii=False)


def canonical_json(value: Any) -> str:
    """Serialize any JSON-able value to canonical compact JSON."""
    return json.dumps(value, **_DUMPS_KW)


def variantify(value: Any) -> str | None:
    """Coerce a Python value into the string form stored in a VARIANT-like
    column: scalars pass through as their JSON encoding, dict/list are
    JSON-encoded, None stays None (SQL NULL).

    Semantics of the reference's `_variantify` (`app.py:276-283`): non-scalar
    values are JSON-encoded, strings kept as-is.
    """
    if value is None:
        return None
    if isinstance(value, str):
        return value
    if isinstance(value, (dict, list, tuple)):
        return canonical_json(value if not isinstance(value, tuple) else list(value))
    if isinstance(value, bool):
        return "true" if value else "false"
    return json.dumps(value)


def stringify_display(value: Any) -> str:
    """Display coercion (`app.py:227-233`): JSON-encode structures, str()
    scalars — used when rendering property tiles / wide matrices."""
    if value is None:
        return ""
    if isinstance(value, (dict, list)):
        return canonical_json(value)
    return str(value)

