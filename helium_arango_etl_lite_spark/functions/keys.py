"""Deterministic row keys (SURVEY.md section 2.2 `hash_key_md5`).

The reference keys every graph document with
``hashlib.md5(json.dumps(doc, sort_keys=True).encode()).hexdigest()``
(follower.py:293-294). Two forms here:

* :func:`canonical_md5_key` — the engine-native canonical form:
  ``md5(concat_ws('|', cols...))`` computed entirely JVM-side inside
  whole-stage codegen. This is the hot-path key used by every sink.
* :func:`strict_parity_md5_key` — byte-identical to the reference's
  ``json.dumps(sort_keys=True)`` canonicalisation, via an Arrow-batched
  pandas UDF. Opt-in; only needed when migrating an existing ArangoDB
  keyspace where keys must match byte-for-byte.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def canonical_md5_key(*cols: str) -> Column:
    """MD5 over a ``|``-joined rendering of the columns named ``cols``
    (engine canonical form).

    ``concat_ws`` skips NULLs, which would make ``(a, NULL, b)`` collide with
    ``(a, b)``; each column is therefore coalesced to ``chr(0)`` first so
    NULL is a distinct value. Stays fully JVM-side (no UDF), and is built as
    one SQL expression, so the driver pays one call however many columns
    are keyed.
    """
    safe = ", ".join(f"coalesce(CAST(`{c}` AS STRING), chr(0))" for c in cols)
    return F.expr(f"md5(concat_ws('|', {safe}))")


def reference_key_of_dict(d: dict) -> str:
    """Driver-side reimplementation of the reference's get_hash_of_dict
    (follower.py:293-294) for parity tests."""
    return hashlib.md5(json.dumps(d, sort_keys=True).encode("utf-8")).hexdigest()


def strict_parity_md5_key(*cols: Column | str) -> Column:
    """Byte-parity key: md5 of ``json.dumps(sort_keys=True)`` of the row.

    The row is rendered as ``{name: value}`` with the exact separators and
    value formatting of CPython ``json.dumps`` — matching follower.py:294.
    Arrow-batched (pandas UDF); use only where byte-level key compatibility
    with an existing reference deployment matters.
    """
    named = [F.col(c) if isinstance(c, str) else c for c in cols]
    row_struct = F.struct(*named)

    @pandas_udf("string")
    def _strict_key(s: pd.Series) -> pd.Series:
        def key(row) -> str:
            d = {k: v for k, v in row.items()}
            return hashlib.md5(
                json.dumps(d, sort_keys=True, default=str).encode("utf-8")
            ).hexdigest()

        return s.map(key)

    return _strict_key(row_struct)
