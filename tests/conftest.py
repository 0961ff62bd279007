from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from webscrape_neko_jirushi_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def built_queries(spark):
    """``built_queries(sf_dir)`` -> every registered query built once
    per sf dir, ``{name: df}``, for the sweeps that read only a plan or
    a schema: building is the sweeps' cost (construction-time
    checkpoints and probes), so they share one build."""
    import __spark_entry__ as entry

    built: dict[str, dict] = {}

    def build(sf_dir: str) -> dict:
        if sf_dir not in built:
            built[sf_dir] = {
                name: fn(spark, sf_dir) for name, fn in entry.queries().items()
            }
        return built[sf_dir]

    return build


@pytest.fixture
def ann_index(spark, tmp_path):
    """A committed LSH-ANN index (another family's manifest) for the
    index readers' wrong-kind checks."""
    from webscrape_neko_jirushi_spark.operators.similarity import build_ann_index

    path = str(tmp_path / "ann")
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    build_ann_index(emb, path, dim=4, bits=2)
    return path
