"""Regenerate tests/fixtures/pipeline_nodes_expected.parquet.

The fixture is the expected output of q_pipeline_nodes (the end-to-end
waterway pipeline over pages_gen.scale_entities(40)), computed by the
SEQUENTIAL reference-transcription oracle (plans/oracle.py) — NOT by the
Spark engine — so the driver's DuckDB gate checks the distributed pipeline
against an independent implementation via a plain SELECT
(testdata_queries.SQL_PIPELINE_NODES).

h3_cell is recomputed here from the raw node coordinates with the packed
grid-cell formula (functions/cells.py:39-73) in plain Python, keeping the
fixture free of engine code on the value path.
"""

from __future__ import annotations

import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmi_water_spark.plans.oracle import run_oracle  # noqa: E402
from osmi_water_spark.sources.pages_gen import scale_entities  # noqa: E402

RES = 7  # pipeline default cell resolution (cells.DEFAULT_RES)
RES_SHIFT, IY_SHIFT = 58, 29  # packed-cell layout (cells.py)


def _assert_constants_match_engine() -> None:
    """Guard (assert-only, value path stays engine-free): if the engine's
    cell constants ever drift from the literals above, fail HERE at
    generation time — not later in the driver's gate with an error that
    points at the pipeline (ADVICE r2)."""
    from osmi_water_spark.functions import cells as C

    assert C.DEFAULT_RES == RES, (C.DEFAULT_RES, RES)
    assert (C.RES_BITS_SHIFT, C.IY_SHIFT) == (RES_SHIFT, IY_SHIFT), (C.RES_BITS_SHIFT, C.IY_SHIFT)


def cell_of(lon: float, lat: float, res: int = RES) -> int:
    n = 1 << res
    ix = min(n - 1, max(0, math.floor((lon + 180.0) / 360.0 * n)))
    iy = min(n - 1, max(0, math.floor((lat + 90.0) / 180.0 * n)))
    return (res << RES_SHIFT) + (iy << IY_SHIFT) + ix


def main() -> None:
    _assert_constants_match_engine()
    ents = scale_entities(40)
    raw_loc = {e["id"]: (e["lon"], e["lat"]) for e in ents if e["kind"] == "node"}
    out = run_oracle(ents)

    cols = {
        "node_id": [], "specific": [], "direction_error": [], "name_error": [],
        "type_error": [], "spring_error": [], "end_error": [], "way_error": [],
        "h3_cell": [],
    }
    for row in out["nodes"]:
        node_id, spec, d, nm, ty, sp, en, wy, _lon, _lat = row
        lon, lat = raw_loc[int(node_id)]
        cols["node_id"].append(node_id)
        cols["specific"].append(spec)
        cols["direction_error"].append(d)
        cols["name_error"].append(nm)
        cols["type_error"].append(ty)
        cols["spring_error"].append(sp)
        cols["end_error"].append(en)
        cols["way_error"].append(wy)
        cols["h3_cell"].append(cell_of(lon, lat))

    table = pa.table(
        {k: pa.array(v, type=pa.int64() if k == "h3_cell" else pa.string())
         for k, v in cols.items()}
    )
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "pipeline_nodes_expected.parquet",
    )
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    pq.write_table(table, dest)
    print(f"wrote {len(out['nodes'])} rows -> {dest}")


if __name__ == "__main__":
    main()
