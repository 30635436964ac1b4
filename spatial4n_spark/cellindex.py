"""Cell-index backend registry — the ONE place that maps an ``index``
name ("geohash" / "s2" / "h3") to its encode UDF, raw kernel, cell
column type, and cover planner.

Every operator that takes an ``index=`` switch (tiles, spatial join,
radius join, raster tiling, streaming tile counts) resolves it here, so
adding a third backend (e.g. H3) touches this module only.  All members
import lazily: the registry itself is importable without pyspark.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class CellIndexBackend:
    name: str
    sql_type: str  # Spark DDL / createDataFrame type of the cell column

    def udf(self, level: int):
        """Arrow-vectorized (lat, lon) -> cell pandas UDF."""
        from spatial4n_spark.functions import udfs

        if self.name == "s2":
            return udfs.s2_udf(level)
        if self.name == "h3":
            return udfs.h3_udf(level)
        return udfs.geohash_udf(level)

    def kernel(self, lat, lon, level: int):
        """Raw numpy encode (for fused mapInArrow stages)."""
        if self.name == "s2":
            from spatial4n_spark.kernels.s2cell import s2_encode

            return s2_encode(lat, lon, level)
        if self.name == "h3":
            from spatial4n_spark.kernels.h3cell import h3_encode

            return h3_encode(lat, lon, level)
        from spatial4n_spark.kernels.geohash import geohash_encode_str

        return geohash_encode_str(lat, lon, level)

    def arrow_type(self):
        import pyarrow as pa

        return pa.string() if self.name == "geohash" else pa.int64()

    @property
    def has_hierarchy(self) -> bool:
        """Whether coarser cells are exact ancestors of finer ones (the
        prefix property). False for h3 (hexes don't tile hexes) — callers
        that need a coarser cell column re-encode at that level instead
        of shifting the fine encode."""
        return self.name != "h3"

    def parent_col(self, col, from_level: int, to_level: int):
        """Column expression: a level-``from_level`` cell's ancestor at
        ``to_level`` (the prefix property: int shift for S2, string
        prefix for geohash) — coarser joins reuse ONE point encode."""
        from pyspark.sql import functions as F

        if to_level > from_level:
            raise ValueError("to_level must be <= from_level")
        if to_level == from_level:
            return F.col(col) if isinstance(col, str) else col
        if self.name == "h3":
            # hexagons cannot tile hexagons: H3 levels nest only
            # approximately (kernels/h3cell.py docstring), so there is no
            # exact ancestor — hierarchical operators use geohash or s2
            raise ValueError("h3 cells have no exact prefix hierarchy")
        if self.name == "s2":
            return F.shiftright(col, 2 * (from_level - to_level))
        return F.substring(col, 1, to_level)

    def parent_kernel(self, cells, from_level: int, to_level: int):
        """Driver/numpy twin of ``parent_col``."""
        if to_level > from_level:
            raise ValueError("to_level must be <= from_level")
        if self.name == "h3":
            if to_level == from_level:
                return list(cells)
            raise ValueError("h3 cells have no exact prefix hierarchy")
        if self.name == "s2":
            return [int(c) >> (2 * (from_level - to_level)) for c in cells]
        return [str(c)[:to_level] for c in cells]

    def cell_size_deg(self, level: int) -> float:
        """Conservative cell extent (degrees) at ``level`` — S2 face
        cells are 90/2^level across in (u,v) angle; geohash cells use
        the larger of the lat/lon box sides."""
        if self.name == "s2":
            return 90.0 / float(1 << level)
        if self.name == "h3":
            # hex tight bbox is (sqrt(3)*s) wide x (2*s) tall
            from spatial4n_spark.kernels.h3cell import hex_size

            return 2.0 * hex_size(level)
        from spatial4n_spark.kernels.geohash import geohash_cell_sizes

        lat_h, lon_w = geohash_cell_sizes(level)
        return max(lat_h, lon_w)

    def cover(self, shape, level: int, geo: bool = True, max_cells: int = 4096):
        """(full_cells, boundary_cells) at the uniform join level."""
        if self.name == "s2":
            from spatial4n_spark.plans.s2cover import cover_cells_s2

            return cover_cells_s2(shape, level, geo, max_cells)
        if self.name == "h3":
            from spatial4n_spark.plans.h3cover import cover_cells_h3

            return cover_cells_h3(shape, level, geo, max_cells)
        from spatial4n_spark.plans.cover import cover_cells

        return cover_cells(shape, level, geo, max_cells)

    def cover_rows(self, key, shape, level: int, geo: bool = True, payload: tuple = ()):
        """``(cell, key, full, *payload)`` for every cell of ``shape``'s
        cover: the cell side of every cover join, which appends only its
        own payload (a bbox, a WKT, a circle)."""
        fulls, bounds = self.cover(shape, level, geo)
        return [(c, key, True, *payload) for c in fulls] + [
            (c, key, False, *payload) for c in bounds
        ]

    def cover_schema(self, key: str, payload: str = ""):
        """The ``cover_rows`` schema: ``_cell, <key> string, _full boolean``
        then the payload's DDL fields."""
        from pyspark.sql.types import StructType

        ddl = f"_cell {self.sql_type}, {key} string, _full boolean"
        return StructType.fromDDL(ddl + (f", {payload}" if payload else ""))

    def cover_stage(self, frame, shapes_of, key: str, payload: str, level: int, geo: bool = True):
        """The distributed cover: one ``mapInPandas`` stage over ``frame``
        whose tasks run ``cover_rows`` for each ``(key, shape, payload)``
        that ``shapes_of(pdf)`` yields from a batch, so no feature of
        ``frame`` crosses the driver."""
        schema = self.cover_schema(key, payload)
        names = schema.fieldNames()

        def gen(batches):
            import pandas as pd

            for pdf in batches:
                rows = [
                    row
                    for k, shape, extra in shapes_of(pdf)
                    for row in self.cover_rows(k, shape, level, geo, extra)
                ]
                if rows:
                    yield pd.DataFrame(rows, columns=names)

        return frame.mapInPandas(gen, schema)


_BACKENDS = {
    "geohash": CellIndexBackend("geohash", "string"),
    "s2": CellIndexBackend("s2", "long"),
    "h3": CellIndexBackend("h3", "long"),
}


def cell_backend(index: str) -> CellIndexBackend:
    try:
        return _BACKENDS[index]
    except KeyError:
        raise ValueError(f"unknown cell index backend: {index!r}") from None
