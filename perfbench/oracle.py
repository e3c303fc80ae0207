"""The answers every op is checked against, computed without the code
under test: Spark's own parquet reader over the generated source for
checksums, pyarrow over the same files for rows and counts, and an
in-memory model for latest-wins reads."""
from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from harness import OpFailure

KEYS = ["conv_id", "turn_idx"]


def checksum_df(df, cols: list):
    """One row: the row count, and per column the sums of the low and
    the high 32 bits of Spark's xxhash64 of each value. Sums do not
    depend on row order; a changed, lost or extra value moves them."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        h = F.xxhash64(F.col(c))
        aggs.append(F.sum(h.bitwiseAND(0xFFFFFFFF)).alias(f"{c}.lo"))
        aggs.append(F.sum(F.shiftrightunsigned(h, 32)).alias(f"{c}.hi"))
    return df.agg(*aggs)


def expect_equal(what: str, got, want) -> None:
    if got != want:
        raise OpFailure(f"{what}: got {got!r}, expected {want!r}")


def expect_rows(what: str, got: pa.Table, want: pa.Table) -> None:
    """Same rows, in any order, column for column."""
    expect_equal(f"{what} row count", got.num_rows, want.num_rows)
    got = got.select(want.column_names).cast(want.schema)
    got = got.sort_by([(k, "ascending") for k in KEYS])
    want = want.sort_by([(k, "ascending") for k in KEYS])
    for name in want.column_names:
        if not got.column(name).equals(want.column(name)):
            raise OpFailure(f"{what}: column {name} differs from the source")


class SourceOracle:
    """Expected answers for reads of the generated transcript table."""

    def __init__(self, table: pa.Table):
        self.table = table

    def rows_in(self, conv_ids: list) -> pa.Table:
        return self.table.filter(pc.is_in(self.table["conv_id"],
                                          pa.array(conv_ids)))

    def rows_between(self, lo: str, hi: str) -> pa.Table:
        c = self.table["conv_id"]
        return self.table.filter(pc.and_(pc.greater_equal(c, lo),
                                         pc.less_equal(c, hi)))

    def value_counts(self, col: str) -> dict:
        vc = pc.value_counts(self.table[col])
        return dict(zip(vc.field("values").to_pylist(),
                        vc.field("counts").to_pylist()))


class LatestModel:
    """What a latest-wins read must return: the base rows with every
    upserted row replacing the older version of its key."""

    def __init__(self, base: pa.Table):
        self.base = base
        self.latest: dict = {}

    def upsert(self, rows: pa.Table) -> None:
        for r in rows.to_pylist():
            self.latest[(r["conv_id"], r["turn_idx"])] = r

    def expected(self, conv_ids: list) -> pa.Table:
        rows = self.base.filter(pc.is_in(self.base["conv_id"],
                                         pa.array(conv_ids))).to_pylist()
        rows = [self.latest.get((r["conv_id"], r["turn_idx"]), r)
                for r in rows]
        return pa.Table.from_pylist(rows, schema=self.base.schema)
