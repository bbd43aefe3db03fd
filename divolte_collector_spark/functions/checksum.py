"""Request corruption checksum (reference S4).

The client computes murmur3_32 over a canonical rendering of the query
parameters (divolte.js:846-877) and sends it base36 in ``x``; the
server rebuilds the canonical string and compares
(ClientSideCookieEventHandler.java:206-261):

1. sort parameters by key (multiple values keep their order);
2. drop the ``x`` param itself;
3. for each param: ``name`` ``=`` then each value followed by ``,``,
   then ``;``;
4. murmur3_32 over the UTF-8 bytes, compared as *signed* 32-bit int
   against ``Long.parseLong(x, 36)``.

The canonical string is built with pure Spark array expressions over
the decoded multimap; only the murmur3 step crosses into Python (one
Arrow-batched pandas UDF — no JVM murmur3_32 built-in exists; ``F.hash``
is murmur3 with different seeding/finalization and would not match the
wire checksum).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from divolte_collector_spark.functions.base36 import try_parse_base36_long
from divolte_collector_spark.functions.murmur import (
    murmur3_32_signed,
    murmur3_32_signed_batch,
)

CHECKSUM_PARAM = "x"


@pandas_udf(T.LongType())
def murmur3_32_signed_udf(s: pd.Series) -> pd.Series:
    # numpy-vectorized across the Arrow batch (see murmur3_32_signed_batch)
    return pd.Series(
        murmur3_32_signed_batch(s.tolist()), index=s.index, dtype="Int64"
    )


def canonical_checksum_string(entries: Column) -> Column:
    """``array<struct<key,value>>`` (decoded, wire order) -> canonical string.

    Sorting is by key only, stable for equal keys (array_sort on a
    (key, original_index) pair preserves multi-value order — the same
    guarantee the reference gets from ImmutableSortedMap over a Deque
    per key).
    """
    indexed = F.zip_with(
        entries,
        F.sequence(F.lit(0), F.size(entries) - 1),
        lambda e, i: F.struct(e.key.alias("key"), i.alias("idx"), e.value.alias("value")),
    )
    ordered = F.array_sort(indexed)
    kept = F.filter(ordered, lambda e: e.key != CHECKSUM_PARAM)
    # Single fold (aggregate) carrying the previous key in the
    # accumulator: each element opens a new "key=" group iff its key
    # differs from the predecessor's; values are ','-terminated, groups
    # ';'-closed. Strictly O(entries) per row — an earlier formulation
    # referenced the filtered array via element_at() inside the lambda,
    # which re-evaluated the whole filter per element (O(n^2)
    # interpreted; ~2s of the sf0.1 decode).
    folded = F.aggregate(
        kept,
        F.struct(
            F.lit("").alias("acc"), F.lit(None).cast("string").alias("lk")
        ),
        lambda a, e: F.struct(
            F.concat(
                a.acc,
                F.when(a.lk.isNull(), F.concat(e.key, F.lit("=")))
                .when(a.lk != e.key, F.concat(F.lit(";"), e.key, F.lit("=")))
                .otherwise(F.lit("")),
                e.value,
                F.lit(","),
            ).alias("acc"),
            e.key.alias("lk"),
        ),
        lambda a: F.when(a.lk.isNull(), F.lit("")).otherwise(
            F.concat(a.acc, F.lit(";"))
        ),
    )
    return folded


def _try_parse_base36_py(s: str | None) -> int | None:
    if s is None:
        return None
    try:
        return int(s, 36)
    except ValueError:
        return None


def render_canonical(pairs: "list[tuple[str, str]]") -> str:
    """Render pre-split lenient ``(key, value)`` pairs — the
    ``CHECKSUM_PARAM`` entry already removed — into the canonical
    checksum string (sort stable by key; ``k=`` groups, ``,`` after
    each value, ``;`` closing each group). Sorts ``pairs`` in place.

    This is the ONE shared renderer behind both
    :func:`_canonical_and_expected` and the wire decoder's inlined
    single-split parse (``sources/browser.py:decode_wire_batch``), so
    a change to the canonicalization can never drift the two paths'
    corrupt_event verdicts apart."""
    pairs.sort(key=lambda kv: kv[0])  # stable: multi-values keep order
    out: list[str] = []
    last_key = None
    for k, v in pairs:
        if k != last_key:
            if last_key is not None:
                out.append(";")
            out.append(k)
            out.append("=")
            last_key = k
        out.append(v)
        out.append(",")
    if last_key is not None:
        out.append(";")
    return "".join(out)


def _canonical_and_expected(
    raw_qs: str | None,
) -> tuple[str | None, int | None]:
    """Decode params (form-style, as Undertow does) and rebuild the
    canonical string plus the claimed base36 ``x`` value; (None, None)
    when there is nothing to hash (null input / missing or
    unparseable ``x``). The murmur step is deliberately NOT here —
    the caller batches it (numpy) across the whole Arrow batch."""
    from urllib.parse import unquote_plus

    if raw_qs is None:
        return None, None
    pairs = []
    x_val: str | None = None
    for part in raw_qs.split("&"):
        key, _, value = part.partition("=")
        # fast path: percent-escapes and '+' are rare on this wire
        # (the client escapes only reserved chars); unquote_plus costs
        # ~6 us/call even on clean input
        if "%" in key or "+" in key:
            key = unquote_plus(key)
        if "%" in value or "+" in value:
            value = unquote_plus(value)
        if key == CHECKSUM_PARAM:
            if x_val is None:
                x_val = value
        else:
            pairs.append((key, value))
    expected = _try_parse_base36_py(x_val)
    if expected is None:
        return None, None
    return render_canonical(pairs), expected


def checksum_verdict_py(raw_qs: str | None) -> bool:
    """Scalar reference verdict (tests, docs): decode, canonicalize,
    murmur3_32, compare signed against base36 ``x``.
    Missing/unparseable ``x`` => False."""
    canonical, expected = _canonical_and_expected(raw_qs)
    if canonical is None:
        return False
    return expected == murmur3_32_signed(canonical.encode("utf-8"))


@pandas_udf(T.BooleanType())
def _checksum_verdict_udf(raw_qs: pd.Series) -> pd.Series:
    # per-row Python only for the param parse (string splitting doesn't
    # vectorize); the murmur runs once, numpy-batched across the Arrow
    # batch — the scalar hash was ~26 of the verdict's ~40 us/row
    parsed = [_canonical_and_expected(v) for v in raw_qs]
    hashes = murmur3_32_signed_batch([c for c, _ in parsed])
    return pd.Series(
        [
            False if c is None else (h == e)
            for (c, e), h in zip(parsed, hashes)
        ],
        dtype="boolean",
    )


def is_checksum_correct(raw_qs: Column) -> Column:
    """Checksum verdict over the RAW query-string column; a missing or
    unparseable ``x`` is incorrect (``.orElse(false)``,
    ClientSideCookieEventHandler.java:233). The event is *kept* and
    flagged corrupt, never dropped (S4).

    One single-argument Arrow-batched UDF doing decode + canonicalize +
    hash + compare. (Spark 4.1 cannot extract a multi-arg pandas UDF
    whose first argument tree contains higher-order-function lambdas —
    empirically verified — so the verdict takes the plain raw string
    and performs the param decode in Python; the JVM-side
    ``canonical_checksum_string`` remains for expression-level use and
    is cross-checked against this path in tests.)
    """
    return _checksum_verdict_udf(raw_qs)
