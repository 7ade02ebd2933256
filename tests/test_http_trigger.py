"""S10 HTTP twin: the same run_job protocol the CLI and scheduler drive,
exposed over HTTP the way the reference's function host exposed run()
(`Pembelian/index.js:1-17`). Pins routing, the synchronous run contract,
watermark advancement across calls, and the 404/500 error paths."""

from __future__ import annotations

import datetime as dt
import json
import threading
import urllib.request

import pytest
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.plans.http_trigger import make_server
from com_danliris_service_etl_spark.plans.jobs import JobSpec
from com_danliris_service_etl_spark.sources.catalog import Catalog
from com_danliris_service_etl_spark.sources.watermark import LOG_SCHEMA, WatermarkStore


@pytest.fixture()
def served(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 2)), (2, "b", dt.datetime(2024, 1, 3))],
        "id long, v string, lastmodifiedutc timestamp",
    )
    cat = Catalog(spark=spark)
    p = str(tmp_path / "src")
    src.write.parquet(p)
    cat.tables["src"] = p

    def build(sp, catalog, wm):
        return catalog.read("src").filter(F.col("lastmodifiedutc") > F.lit(wm))

    def build_boom(sp, catalog, wm):
        raise RuntimeError("extract exploded")

    specs = {
        "Fact Simple Test": JobSpec(
            "Fact Simple Test", build, ["id"], str(tmp_path / "fact")
        ),
        "Fact Boom": JobSpec("Fact Boom", build_boom, ["id"], str(tmp_path / "boom")),
    }
    store = WatermarkStore(spark, str(tmp_path / "log"))
    srv = make_server(spark, specs, cat, store)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        yield base, spark, specs, store
    finally:
        srv.shutdown()
        srv.server_close()


def _call(url, method="GET", headers=None):
    req = urllib.request.Request(url, method=method, headers=headers or {})
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        raw = e.read()
        return e.code, json.loads(raw) if raw else {}


def test_http_trigger_runs_job_and_advances_watermark(served):
    base, spark, specs, store = served
    code, body = _call(f"{base}/run/Fact%20Simple%20Test", method="POST")
    assert code == 200 and body["status"] == "Successful" and body["rows"] == 2
    fact = spark.read.parquet(specs["Fact Simple Test"].target)
    assert fact.count() == 2
    # second poke: watermark advanced → empty increment, fact unchanged
    code, body = _call(f"{base}/run/Fact%20Simple%20Test", method="POST")
    assert code == 200 and body["rows"] == 0
    assert spark.read.parquet(specs["Fact Simple Test"].target).count() == 2


def test_http_trigger_lists_jobs_and_404s(served):
    base, _, _, _ = served
    code, body = _call(f"{base}/jobs")
    assert code == 200 and body["jobs"] == ["Fact Boom", "Fact Simple Test"]
    code, body = _call(f"{base}/run/Nope", method="POST")
    assert code == 404 and "unknown job" in body["error"]
    code, body = _call(f"{base}/nothing")
    assert code == 404


def test_http_trigger_get_on_run_is_405_by_default(served):
    base, spark, specs, _ = served
    code, _ = _call(f"{base}/run/Fact%20Simple%20Test", method="GET")
    assert code == 405
    # and the job did NOT run — /run mutates state, GET must not
    import os

    assert not os.path.exists(specs["Fact Simple Test"].target)


def test_http_trigger_token_gates_run_but_not_jobs(spark, tmp_path):
    cat = Catalog(spark=spark)
    ran = []

    def build(sp, catalog, wm):
        ran.append(1)
        return sp.range(1).selectExpr(
            "id", "timestamp'2024-01-02' as lastmodifiedutc"
        )

    specs = {"Fact T": JobSpec("Fact T", build, ["id"], str(tmp_path / "t"))}
    store = WatermarkStore(spark, str(tmp_path / "log"))
    srv = make_server(spark, specs, cat, store, token="s3cret")
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # /jobs is read-only — open
        code, body = _call(f"{base}/jobs")
        assert code == 200 and body["jobs"] == ["Fact T"]
        # /run without the key: 401, job untouched
        code, body = _call(f"{base}/run/Fact%20T", method="POST")
        assert code == 401 and not ran
        code, body = _call(
            f"{base}/run/Fact%20T", method="POST", headers={"X-Job-Key": "wrong"}
        )
        assert code == 401 and not ran
        # with the key: runs
        code, body = _call(
            f"{base}/run/Fact%20T", method="POST", headers={"X-Job-Key": "s3cret"}
        )
        assert code == 200 and ran
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_refuses_non_loopback_bind_without_token(spark, tmp_path):
    from com_danliris_service_etl_spark.plans.http_trigger import serve

    with pytest.raises(ValueError, match="refusing to bind"):
        serve(
            spark, {}, Catalog(spark=spark),
            WatermarkStore(spark, str(tmp_path / "log")),
            host="0.0.0.0",
        )


def test_http_trigger_failure_is_500_and_logged(served):
    base, _, _, store = served
    code, body = _call(f"{base}/run/Fact%20Boom", method="POST")
    assert code == 500 and "extract exploded" in body["error"]
    # run_job's catch appended the Failed telemetry row (reference
    # behavior: the error lands in the migration log) and the watermark
    # did NOT advance
    log = (
        store.spark.read.schema(LOG_SCHEMA).parquet(store.path)
        .filter(F.col("description") == "Fact Boom").collect()
    )
    assert len(log) == 1 and log[0]["status"].startswith("Failed")
    from com_danliris_service_etl_spark.sources.watermark import EPOCH

    assert store.read_watermark("Fact Boom") == EPOCH
