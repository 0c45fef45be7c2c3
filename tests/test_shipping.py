"""Worker-importability regression (round 6): module-level Python UDFs
pickle BY REFERENCE, so a vanilla session launched outside the repo
(driver adds the repo to sys.path at runtime; workers never see it)
died with ModuleNotFoundError on every pandas_udf/mapInPandas path.
ship_package() closes this by addPyFile-ing the package zip."""

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
