"""BBox overlap join via cell-grid partitioning + reference-point dedup.

Turns the theta join "rectangles overlap" into a cell equi-join: each bbox
is exploded to its covering cells at a coarse resolution, candidates meet on
the cell key, the exact overlap predicate refines natively, and duplicate
pairs (the same pair meeting in several shared cells) are eliminated WITHOUT
a distinct-shuffle by the classic reference-point rule: a pair is emitted
only from the cell containing the overlap region's min corner (PBSM-style
duplicate avoidance — cf. PAPERS.md partition-based spatial-merge join).

Everything is native Catalyst: the cover explode, the join and the dedup
filter (the same shared bit-math fragment the cell index uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geografir_spark.geo import cells


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
    the cells of ``cells.cover_bbox_np``, as native Generate/Project nodes.

    Each axis explodes the inclusive range of its clamped axis indices and
    the index pairs encode to cell ids. A row with a null bbox column, or
    whose max index lies below its min index on either axis, gets no cells
    (``axis_index_sql`` would map NULL to index 0); an inverted box whose
    two ends share an index still gets that cell."""

    def index_range(lo: str, hi: str, lat: bool) -> str:
        a, b = (cells.axis_index_sql(f"`{c}`", res, lat=lat) for c in (lo, hi))
        return (
            f"explode(CASE WHEN `{lo}` IS NOT NULL AND `{hi}` IS NOT NULL AND {a} <= {b}"
            f" THEN sequence({a}, {b}) END)"
        )

    grid = df.selectExpr("*", f"{index_range(minx, maxx, False)} AS __ix").selectExpr(
        "*", f"{index_range(miny, maxy, True)} AS __iy"
    )
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
    la = left.select([F.col(c).alias(c + sa) for c in left.columns])
    rb = right.select([F.col(c).alias(c + sb) for c in right.columns])
    ca = cover_bbox_cells(la, res, f"minx{sa}", f"miny{sa}", f"maxx{sa}", f"maxy{sa}")
    cb = cover_bbox_cells(rb, res, f"minx{sb}", f"miny{sb}", f"maxx{sb}", f"maxy{sb}")
    j = ca.join(cb, "cell").filter(
        (F.col(f"minx{sa}") <= F.col(f"maxx{sb}"))
        & (F.col(f"minx{sb}") <= F.col(f"maxx{sa}"))
        & (F.col(f"miny{sa}") <= F.col(f"maxy{sb}"))
        & (F.col(f"miny{sb}") <= F.col(f"maxy{sa}"))
    )
    if extra_pred is not None:
        j = j.filter(extra_pred)
    # reference point: min corner of the overlap region
    rp_lon = f"greatest(minx{sa}, minx{sb})"
    rp_lat = f"greatest(miny{sa}, miny{sb})"
    j = cells.apply_steps(j, cells.encode_steps(rp_lon, rp_lat, res, "__rp_cell"))
    return j.filter(F.col("__rp_cell") == F.col("cell")).drop("__rp_cell", "cell")
