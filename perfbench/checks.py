"""Output checks. Every check is one attempted operation; a check that
does not hold is one failed operation."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from stonkwhisperer_spark.sinks.writers import read_committed


class Ledger:
    """Attempted and failed operations of one run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def expect(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got == want:
            return True
        self.failures.append(f"{what}: got {got!r}, want {want!r}")
        print(f"perfbench: FAILED {self.failures[-1]}", file=sys.stderr)
        return False


def table_faults(spark, path: str, keys: list[str], rows: int, company_ids=None) -> dict[str, tuple]:
    """(got, want) of each committed-table check: committed row count,
    rows sharing a natural key, and rows whose company is unknown."""
    df = read_committed(spark, path)
    if df is None:
        return {"rows": (0, rows)}
    out = {
        "rows": (df.count(), rows),
        "duplicate keys": (df.groupBy(*keys).count().filter(F.col("count") > 1).count(), 0),
    }
    if company_ids is not None:
        out["unknown companies"] = (df.filter(~F.col("company_id").isin(list(company_ids))).count(), 0)
    return out


def check_table(led: Ledger, spark, name: str, path: str, keys: list[str], rows: int, company_ids=None) -> None:
    for what, (got, want) in table_faults(spark, path, keys, rows, company_ids).items():
        led.expect(f"{name} {what}", got, want)
