"""Scalar Column builders shared across queries (SURVEY.md section 2.7).

All JVM-side built-ins — no Python UDFs — so they stay inside whole-stage
codegen and push down where possible.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NULLISH = ("none", "null", "")


def stage_from_file_url(col: Column | str) -> Column:
    """Derive the stage name from a file url:
    ``REGEXP_REPLACE(SPLIT_PART(file_url,'/',1),'^@','')`` (`app.py:707`)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.split_part(c, F.lit("/"), F.lit(1)), "^@", "")


def is_nullish(col: Column | str) -> Column:
    """The reference's null-ish scrub (`app.py:257-259`): values rendering as
    'none'/'null'/'' are dropped from display."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNull() | F.lower(F.trim(c)).isin(*NULLISH)


def try_to_timestamp(col: Column | str) -> Column:
    """Error-safe timestamp cast, Snowflake TRY_TO_TIMESTAMP_NTZ semantics
    (`app.py:701,709`): null on failure instead of raising."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c)


def iff(cond: Column, a, b) -> Column:
    """Snowflake IFF (`app.py:714,732`)."""
    return F.when(cond, a).otherwise(b)


def pseudonym(col: Column | str, salt: str, width: int = 24) -> Column:
    """Deterministic keyed pseudonymization: a salted md5 token replacing a
    direct identifier.  The same (salt, key) always maps to the same token,
    so REFERENTIAL INTEGRITY survives — fact tables pseudonymized with the
    same salt still join to their dimensions — while the raw identifier
    never leaves the pipeline.  Pure JVM expression (md5 + concat), runs at
    scan speed; rotate the salt to break linkability across releases.

    Collision math (birthday bound, p ~= n^2 / 2^(b+1) for n keys in b
    bits): width=16 hex chars = 64 bits is safe only to ~1e8 keys at
    p < 1e-3 — at 2^32 keys the collision odds are already ~39%, and a
    collision silently CONFLATES two identities downstream (ADVICE r6).
    The default is therefore width=24 (96 bits): p < 1e-9 at 1e10 keys,
    comfortably past any realistic identifier space at 100 TB.  Use
    width=32 (the full digest) when tokens feed further derivations."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(
        F.md5(F.concat(F.lit(salt), F.lit(":"), c.cast("string"))), 1, width
    )
