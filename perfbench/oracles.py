"""Expected outputs for one seed's dataset, and the checks against them.

Point-set joins and tile counts are checked against the generator's
forward goldens (``truth``, ``pip``, ``knn``, ``dwithin``, ``fpjoin``
parquets). The ring and hotspot family is checked against DuckDB running
the contract's own oracle SQL (``__spark_entry__.oracle_sql()`` and
``hotspots.getis_ord_oracle_sql``) over this seed's ``truth.parquet``.
Everything here runs outside the timed region.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import cached_property
from pathlib import Path

import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 6)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def rows(df, cols) -> Counter:
    """Multiset of normalized row tuples of a pandas frame."""
    return Counter(tuple(_norm(v) for v in r) for r in df[list(cols)].itertuples(index=False))


def compare(got: Counter, want: Counter, what: str) -> str | None:
    if got == want:
        return None
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return f"{what}: {missing} expected rows missing, {extra} unexpected rows"


class Expected:
    """Lazily loaded goldens and oracle results for one dataset dir."""

    def __init__(self, data_dir: Path):
        self.dir = Path(data_dir)

    def _pairs(self, name: str, cols) -> Counter:
        t = pq.read_table(self.dir / f"{name}.parquet", columns=list(cols)).to_pandas()
        return rows(t, cols)

    @cached_property
    def truth(self):
        return pq.read_table(self.dir / "truth.parquet").to_pandas()

    @cached_property
    def n_pages(self) -> int:
        return pq.read_metadata(self.dir / "pages.parquet").num_rows

    @cached_property
    def pip(self) -> Counter:
        return self._pairs("pip", ("url", "poly_id"))

    @cached_property
    def knn(self) -> Counter:
        return self._pairs("knn", ("probe_id", "url"))

    @cached_property
    def dwithin(self) -> Counter:
        return self._pairs("dwithin", ("probe_id", "url"))

    @cached_property
    def fpjoin(self) -> Counter:
        return self._pairs("fpjoin", ("url", "poly_id"))

    @cached_property
    def tile_counts(self) -> Counter:
        c = Counter(self.truth["cell_10km"])
        return Counter((cell, n) for cell, n in c.items())

    @cached_property
    def fp_types(self) -> Counter:
        return rows(self.truth, ("url", "fp_type"))

    @cached_property
    def bbox_wkb(self) -> dict[str, bytes]:
        from fgcspark.geom.wkb import to_wkb
        from fgcspark.geom.wkt import parse_wkt

        return {
            u: to_wkb(parse_wkt(w))
            for u, w in zip(self.truth["url"], self.truth["bbox_wkt"])
        }

    # --- DuckDB recomputation of the ring and hotspot family -----------

    def _duck(self, sql: str) -> tuple[tuple[str, ...], Counter]:
        """(column names, row multiset) of the oracle query."""
        import duckdb

        con = duckdb.connect()
        try:
            df = con.execute(sql).df()
        finally:
            con.close()
        return tuple(df.columns), rows(df, df.columns)

    @cached_property
    def _contract_sql(self) -> dict[str, str]:
        import __spark_entry__ as E

        # the contract's oracles read the correctness-scale goldens of the
        # seed-42 dataset; point them at this seed's files instead
        contract_dir = f"{E.GEO_DATA}/{E.ORACLE_SCALE}"
        return {k: v.replace(contract_dir, str(self.dir)) for k, v in E.oracle_sql().items()}

    @cached_property
    def getis_ord(self) -> tuple[tuple[str, ...], Counter]:
        from fgcspark.hotspots import getis_ord_oracle_sql

        return self._duck(getis_ord_oracle_sql(f"read_parquet('{self.dir}/truth.parquet')"))

    @cached_property
    def hex_ring(self) -> tuple[tuple[str, ...], Counter]:
        return self._duck(self._contract_sql["hex_ring_counts"])

    @cached_property
    def grid_ring(self) -> tuple[tuple[str, ...], Counter]:
        return self._duck(self._contract_sql["cell_ring_counts"])

    @cached_property
    def focal_density(self) -> tuple[tuple[str, ...], Counter]:
        return self._duck(self._contract_sql["focal_density"])
