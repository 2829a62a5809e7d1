"""Output checks: order-insensitive fingerprints and the failure ledger.

A fingerprint of a row set is (row count, sum of crc32 over each row's
columns joined by ``|``). Spark computes it next to the engine call, so
only a few numbers leave the JVM; the reference side computes the same
pair from a pandas frame with ``zlib.crc32``. Equal fingerprints mean
equal row multisets up to a crc32 collision that also preserves the sum.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Hashable
from dataclasses import dataclass, field

import pandas as pd


def spark_fingerprint(df, cols: list[str], by: list[str] | None = None) -> dict:
    """{group key tuple: (n, crc_sum)} over ``cols`` of a Spark frame."""
    from pyspark.sql import functions as F

    by = by or []
    h = F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))
    rows = (
        df.groupBy(*by)
        .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
        .collect()
    )
    return {tuple(r[b] for b in by): (int(r["n"]), int(r["h"] or 0)) for r in rows}


def pandas_fingerprint(pdf: pd.DataFrame, cols: list[str], by: list[str] | None = None) -> dict:
    """The same fingerprint as ``spark_fingerprint`` over a pandas frame."""
    by = by or []
    if pdf.empty:
        return {}
    joined = pdf[cols[0]].astype(str)
    for c in cols[1:]:
        joined = joined + "|" + pdf[c].astype(str)
    h = joined.map(lambda s: zlib.crc32(s.encode())).to_numpy()
    if not by:
        return {(): (len(pdf), int(h.sum()))}
    agg = pdf[by].assign(_h=h).groupby(by, sort=False)["_h"].agg(["count", "sum"])
    return {
        _key(k): (int(n), int(s)) for k, n, s in zip(agg.index, agg["count"], agg["sum"])
    }


def _key(k) -> tuple:
    k = k if isinstance(k, tuple) else (k,)
    return tuple(x.item() if hasattr(x, "item") else x for x in k)


def same_fingerprint(got: dict, expected: dict) -> bool:
    """Equal up to empty groups (a group with no rows is absent on one side)."""
    keys = set(got) | set(expected)
    return all(got.get(k, (0, 0)) == expected.get(k, (0, 0)) for k in keys)


@dataclass
class Ledger:
    """Every checked operation, its outcome and the reason it failed.

    Results are recorded during the timed loop and judged afterwards, so
    the references (some computed by the pandas or DuckDB oracles) are
    never built inside a timed region. ``reference(key)`` is called once
    per distinct key not in ``references``, over the ledger's life."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    # {key: reference} known in advance; settle builds the others once
    references: dict = field(default_factory=dict)
    _pending: list[tuple[str, Hashable, object, Callable]] = field(default_factory=list)

    def record(self, op: str, key: Hashable, got, same: Callable = lambda a, b: a == b) -> None:
        self._pending.append((op, key, got, same))

    def error(self, op: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{op}: raised {type(exc).__name__}: {str(exc)[:200]}")

    def settle(self, reference: Callable[[Hashable], object]) -> None:
        memo = self.references
        for op, key, got, same in self._pending:
            self.attempted += 1
            try:
                if key not in memo:
                    memo[key] = reference(key)
                ok = same(got, memo[key])
            except Exception as exc:  # a reference that cannot be built fails the op
                ok = False
                got = f"reference error {type(exc).__name__}: {exc}"
            if not ok:
                self.failed += 1
                self.failures.append(f"{op} {key!r}: mismatch ({str(got)[:200]})")
        self._pending.clear()
