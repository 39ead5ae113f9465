"""BBox overlap join via cell-grid partitioning + reference-point dedup.

Turns the theta join "rectangles overlap" into a cell equi-join: each bbox
is exploded to its covering cells at a coarse resolution, candidates meet on
the cell key, the exact overlap predicate refines natively, and duplicate
pairs (the same pair meeting in several shared cells) are eliminated WITHOUT
a distinct-shuffle by the classic reference-point rule: a pair is emitted
only from the cell containing the overlap region's min corner (PBSM-style
duplicate avoidance — cf. PAPERS.md partition-based spatial-merge join).

Everything is native Catalyst: the cover explode, the join on the
integer axis indexes of the shared cell, and the dedup filter, which
compares those indexes with the overlap's min-corner indexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geografir_spark.geo import cells


def _index_grid(df: DataFrame, res: int, minx: str, miny: str, maxx: str, maxy: str) -> DataFrame:
    """Explode each row to the index pairs (``__ix``, ``__iy``) of its
    bbox's covering cells: each axis explodes the inclusive range of its
    clamped axis indices. A row with a null bbox column, or whose max
    index lies below its min index on either axis, gets no cells
    (``axis_index_sql`` would map NULL to index 0); an inverted box whose
    two ends share an index still gets that cell."""

    def index_range(lo: str, hi: str, lat: bool) -> str:
        a, b = (cells.axis_index_sql(f"`{c}`", res, lat=lat) for c in (lo, hi))
        return (
            f"explode(CASE WHEN `{lo}` IS NOT NULL AND `{hi}` IS NOT NULL AND {a} <= {b}"
            f" THEN sequence({a}, {b}) END)"
        )

    return df.selectExpr("*", f"{index_range(minx, maxx, False)} AS __ix").selectExpr(
        "*", f"{index_range(miny, maxy, True)} AS __iy"
    )


def cover_bbox_cells(
    df: DataFrame,
    res: int,
    minx: str = "minx",
    miny: str = "miny",
    maxx: str = "maxx",
    maxy: str = "maxy",
    out: str = "cell",
) -> DataFrame:
    """Explode each row to its bbox's covering cells (adds ``out`` column):
    the cells of ``cells.cover_bbox_np``, as native Generate/Project nodes
    (the index pairs of ``_index_grid`` encoded to cell ids)."""
    grid = _index_grid(df, res, minx, miny, maxx, maxy)
    covered = cells.apply_steps(grid, cells.encode_idx_steps("__ix", "__iy", res, out))
    return covered.drop("__ix", "__iy")


def bbox_overlap_join(
    left: DataFrame,
    right: DataFrame,
    *,
    res: int,
    suffixes: tuple[str, str] = ("_a", "_b"),
    extra_pred=None,
) -> DataFrame:
    """Pairs of overlapping bboxes (inclusive edges), deduplicated by the
    reference-point rule. Both inputs need minx/miny/maxx/maxy columns; all
    columns are suffixed in the output."""
    sa, sb = suffixes

    def side(df: DataFrame, s: str) -> DataFrame:
        # columns suffixed, plus the axis indexes of the bbox's min corner
        df = df.selectExpr(
            *(f"`{c}` AS `{c}{s}`" for c in df.columns),
            f"{cells.axis_index_sql('`minx`', res, lat=False)} AS __ix0{s}",
            f"{cells.axis_index_sql('`miny`', res, lat=True)} AS __iy0{s}",
        )
        return _index_grid(df, res, f"minx{s}", f"miny{s}", f"maxx{s}", f"maxy{s}")

    j = side(left, sa).join(side(right, sb), ["__ix", "__iy"]).filter(
        (F.col(f"minx{sa}") <= F.col(f"maxx{sb}"))
        & (F.col(f"minx{sb}") <= F.col(f"maxx{sa}"))
        & (F.col(f"miny{sa}") <= F.col(f"maxy{sb}"))
        & (F.col(f"miny{sb}") <= F.col(f"maxy{sa}"))
    )
    if extra_pred is not None:
        j = j.filter(extra_pred)
    # reference point: the overlap region's min corner, (greatest(minx),
    # greatest(miny)). axis_index_sql is monotone, so its cell's indexes
    # are the greater of the two sides' min-corner indexes.
    j = j.filter(
        (F.col("__ix") == F.greatest(f"__ix0{sa}", f"__ix0{sb}"))
        & (F.col("__iy") == F.greatest(f"__iy0{sa}", f"__iy0{sb}"))
    )
    return j.drop("__ix", "__iy", f"__ix0{sa}", f"__iy0{sa}", f"__ix0{sb}", f"__iy0{sb}")
