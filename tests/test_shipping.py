"""Worker-importability regression (round 6): module-level Python UDFs
pickle BY REFERENCE, so a vanilla session launched outside the repo
(driver adds the repo to sys.path at runtime; workers never see it)
died with ModuleNotFoundError on every pandas_udf/mapInPandas path.
ship_package() closes this by addPyFile-ing the package zip in such a
session; a get_spark session's workers import the package from
PYTHONPATH and get no zip."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())

# 1) IVF Arrow assignment (queries/ext_similarity.ivf_assign_arrow — its
#    pandas_udf closure calls module-level _rounded_d2, pickled by reference)
from eventsgateway_spark.queries.ext_similarity import ivf_assign_arrow
v = spark.createDataFrame(
    [(1, [1.0, 0.0], 1.0), (2, [0.0, 2.0], 2.0)],
    "vec_id long, e array<double>, nrm double",
)
cents = spark.createDataFrame(
    [([(0, [1.0, 0.0]), (1, [0.0, 1.0])],)],
    "cents array<struct<cid:bigint, ce:array<double>>>",
)
cells = {{r["vec_id"]: r["cell_id"] for r in ivf_assign_arrow(v, cents).collect()}}
assert cells == {{1: 0, 2: 1}}, cells

# 2) Avro codec (JVM UDFs from eventsgateway_spark/jvm: needs the jar the
#    package compiles and adds with ADD JAR, not the shipped zip)
from eventsgateway_spark.gateway import Gateway
from eventsgateway_spark.sources.avro_codec import decode_event
gw = Gateway(spark, default_topic="t")
gw.send_at("n", 1_690_000_000_000, {{"k": "v"}})
payloads = gw.ingest().payloads.collect()
assert len(payloads) == 1
assert decode_event(bytes(payloads[0]["value"]))["props"] == {{"k": "v"}}

# 3) multimodal mapInPandas (operators/multimodal — by-reference)
from eventsgateway_spark.operators.multimodal import (
    MEDIA_SCHEMA, decode_media, encode_ppm,
)
import numpy as np
img = np.zeros((2, 2, 3), np.uint8)
assets = spark.createDataFrame(
    [(1, "image/ppm", bytearray(encode_ppm(img)), 1)], MEDIA_SCHEMA
)
feats = decode_media(assets, stub=False).collect()
assert feats[0]["width"] == 2
print("SHIPPING_OK")
spark.stop()
"""


def test_vanilla_session_outside_repo_can_run_python_udfs(tmp_path):
    """Driver in /tmp-cwd with NO repo on PYTHONPATH: Python workers
    must still import the package (via the shipped zip)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", PROBE.format(repo=REPO)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "SHIPPING_OK" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"
    )


def test_get_spark_session_ships_no_zip(spark):
    """A get_spark session's workers import the package from the
    exported PYTHONPATH, so ship_package adds no file and a worker
    holds no package zip on sys.path or in its importer cache."""
    from eventsgateway_spark.shipping import ship_package

    ship_package(spark)
    files = spark.sparkContext.listFiles
    shipped = [f for f in files if "eventsgateway_spark_pkg" in f]
    assert not shipped, shipped

    def probe(batches):
        import sys

        import pandas as pd

        import eventsgateway_spark

        for _ in batches:
            pass
        zips = [
            p
            for p in list(sys.path) + list(sys.path_importer_cache)
            if "eventsgateway_spark_pkg" in p
        ]
        yield pd.DataFrame(
            {"zips": [repr(zips)], "pkg": [eventsgateway_spark.__file__]}
        )

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "zips string, pkg string")
        .collect()[0]
    )
    assert row["zips"] == "[]", row
    assert row["pkg"] == os.path.join(REPO, "eventsgateway_spark", "__init__.py")


TMP_PROBE = """
import glob, os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
from eventsgateway_spark.shipping import ship_package
ship_package(spark)

def where(batches):
    import pandas as pd
    import eventsgateway_spark.shipping as m
    for _ in batches:
        pass
    yield pd.DataFrame({{"f": [m.__file__]}})

f = spark.range(1, numPartitions=1).mapInPandas(where, "f string").first().f
assert "eventsgateway_spark_pkg" in f, f  # the worker imported the zip
pattern = os.path.join({tmp!r}, "**", "eventsgateway_spark_pkg*.zip")
assert glob.glob(pattern, recursive=True), "zip not under the local dir"
spark.stop()
print("LEFT", glob.glob(pattern, recursive=True))
"""


def test_vanilla_session_zip_is_removed_on_stop(tmp_path):
    """A vanilla session's package zip lives under the SparkContext's
    own files root, so stop() removes it: nothing is left in the temp
    or local directory."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    proc = subprocess.run(
        [sys.executable, "-c", TMP_PROBE.format(repo=REPO, tmp=str(tmp_path))],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "LEFT []" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-3000:]}"
    )
    assert not list(tmp_path.rglob("eventsgateway_spark_pkg*.zip"))
