"""build_index / append_to_index share one ingest DAG; the engine keeps
one persist ring (which re-persists after a bare clearCache);
$SPARK_GRAFT_CPUS is parsed in one place."""

import csv
import os
import subprocess
import sys

from pyspark.sql import functions as F

from indexlab_spark.config import EngineConfig, IngestConfig
from indexlab_spark.pipeline import append_to_index, build_index, load_index, search

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BASE_DOCS = [
    "apache spark schedules stages of tasks over partitions of a dataset",
    "inverted file indexes cluster vectors into cells and probe a few of them",
    "bm25 scores terms by frequency saturation and document length",
    "minhash signatures estimate jaccard similarity between shingle sets",
    "parquet stores columns in row groups with per page statistics",
    "a manifest row records the model chunking and sources of a version",
]
APPEND_DOCS = [
    "zebra crossings slow traffic near the harbour market on weekdays",
    "copper kettles whistle when the water reaches a rolling boil",
    "glacier meltwater feeds the alpine lake through a narrow gorge",
]


def _write_csv(path, texts, tag):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["text", "category"])
        for t in texts:
            w.writerow([t, tag])
    return str(path)


def test_append_continues_build_dag_on_ivf_index(spark, tmp_path):
    engine = EngineConfig(warehouse_dir=str(tmp_path / "wh"))
    cfg = IngestConfig(
        index_name="ingest_paths", text_column="text", chunk_size=40,
        chunk_overlap=10, backend="ivf", nlist=2, nprobe=2,
    )
    base = build_index(
        spark, _write_csv(tmp_path / "base.csv", BASE_DOCS, "BASECAT"), cfg,
        engine, version="v1",
    )
    assert base["backend"] == "ivf" and base["params"]["text_column"] == "text"

    out = append_to_index(
        spark, _write_csv(tmp_path / "more.csv", APPEND_DOCS, "APPENDCAT"),
        "ingest_paths", engine, version="v2",
    )
    chunks, manifest = load_index(spark, "ingest_paths", engine)
    assert manifest["version"] == "v2" == out["version"]
    assert manifest["backend"] == "flat"
    rows = chunks.select(
        "doc_no", "chunk_no", "doc_id", "chunk_pos", "text", "cluster_id"
    ).collect()
    assert out["count"] == manifest["count"] == len(rows)

    # doc_no continues after the base rows; chunk_pos is exactly 0..n-1
    assert sorted({r["doc_no"] for r in rows}) == list(
        range(len(BASE_DOCS) + len(APPEND_DOCS))
    )
    assert sorted(r["chunk_pos"] for r in rows) == list(range(len(rows)))
    assert all(r["doc_id"] == f"{r['doc_no']}#{r['chunk_no']}" for r in rows)

    # appended chunks are cut from the text column only (no concat_row
    # fallback), carry a null cluster_id, and follow every base chunk
    new = [r for r in rows if r["doc_no"] >= len(BASE_DOCS)]
    old = [r for r in rows if r["doc_no"] < len(BASE_DOCS)]
    assert new and old
    for r in new:
        assert r["text"] in APPEND_DOCS[r["doc_no"] - len(BASE_DOCS)]
        assert "APPENDCAT" not in r["text"] and " | " not in r["text"]
        assert r["cluster_id"] is None
    assert min(r["chunk_pos"] for r in new) > max(r["chunk_pos"] for r in old)
    assert all(r["cluster_id"] is not None for r in old)

    # the latest version is searchable and finds an appended document
    hits = search(spark, "ingest_paths", APPEND_DOCS[1], k=3, engine=engine)
    top = hits.orderBy("rank").first()
    assert top["doc_id"].split("#")[0] == str(len(BASE_DOCS) + 1)


def test_reset_pins_releases_row_numbering_pins(spark):
    from indexlab_spark.functions.cache import reset_pins
    from indexlab_spark.functions.text import global_order_index, zip_index

    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    reset_pins(spark)
    before = persisted()
    df = spark.range(200).repartition(3).withColumn("k", -F.col("id"))
    assert zip_index(df, "rn").count() == 200
    assert global_order_index(df, ["k"], "pos").count() == 200
    assert persisted() >= before + 2
    assert reset_pins(spark) >= 2
    assert persisted() == before


def test_pin_after_bare_clear_cache_repersists(spark):
    from pyspark import StorageLevel

    from indexlab_spark.functions.cache import pin, reset_pins

    def frame():
        return spark.range(50).withColumn("sq", F.col("id") * F.col("id"))

    reset_pins(spark)
    assert pin(frame()).storageLevel != StorageLevel.NONE
    spark.catalog.clearCache()
    assert pin(frame()).storageLevel != StorageLevel.NONE
    reset_pins(spark)


def test_empty_cpus_env_imports():
    code = (
        "import os\n"
        "import indexlab_spark.session as s\n"
        "import indexlab_spark.operators.knn as k\n"
        "assert s.CPUS == 32, s.CPUS\n"
        "assert k._LLOYD_POOL_WORKERS == min(8, os.cpu_count() or 1)\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="")
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
