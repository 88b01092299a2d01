"""Serving edge: the reference's dashboard routes must answer from the
Spark warehouse end-to-end (HTML tables + PNG charts), with all numbers
coming from plans/dashboard.py — over a synthetic cleaned fact here, and
over the reference's golden export where those assets exist."""

from __future__ import annotations

import logging
import os
import threading
import time
import urllib.error
import urllib.request
from http.server import ThreadingHTTPServer

import pytest

import serve

from learn_etl_data_warehouse_spark.plans.dashboard import dashboard

REF_DB = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
FACT_TABLE = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_DB), reason="reference assets not present"
)


def _serve(cleaned):
    server = ThreadingHTTPServer(("127.0.0.1", 0), serve.make_handler(cleaned))
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server, f"http://127.0.0.1:{server.server_address[1]}"


def _fetch(url: str) -> tuple[int, bytes, str]:
    try:
        with urllib.request.urlopen(url) as resp:
            return resp.status, resp.read(), resp.headers["Content-Type"]
    except urllib.error.HTTPError as e:
        return e.code, e.read(), e.headers["Content-Type"]


@pytest.fixture(scope="module")
def synthetic_site(synthetic_cleaned):
    server, url = _serve(synthetic_cleaned)
    yield url
    server.shutdown()
    server.server_close()


def test_synthetic_routes_render_the_per_chart_pages(synthetic_cleaned, synthetic_site):
    """Every route answers 200 with its content type, and each page and
    chart is byte-identical to rendering the per-chart DataFrames."""
    for kind, key in [("quarterly", "2018Q4"), ("mode", "BIKE"), ("quarterly", "2030Q1")]:
        status, body, ctype = _fetch(f"{synthetic_site}/{kind}/{key}")
        assert (status, ctype) == (200, "text/html")
        dash = dashboard(synthetic_cleaned, kind, key)
        assert body.decode() == serve.render_dashboard(kind, key, dash)
    for kind, key, chart in [
        ("quarterly", "2018Q4", "hist_amount_delivery"),
        ("quarterly", "2019Q2", "hist_duration"),
        ("quarterly", "2018Q3", "hist_mode"),
        ("mode", "SHOP", "hist_distance_rounded"),
        ("mode", "CAR", "hist_hour_start"),
    ]:
        status, png, ctype = _fetch(f"{synthetic_site}/{kind}/{key}/{chart}.png")
        assert (status, ctype) == (200, "image/png")
        assert png == serve.hist_png(dashboard(synthetic_cleaned, kind, key), chart)
    status, body, ctype = _fetch(f"{synthetic_site}/")
    assert (status, ctype) == (200, "text/html")
    assert body.startswith(b"<html>")
    for key in ("/quarterly/2018Q3", "/quarterly/2019Q2", "/mode/SHOP"):
        assert f'href="{key}"'.encode() in body


def test_synthetic_unknown_routes_404(synthetic_site):
    for path in (
        "/nope/x",
        "/quarterly",
        "/quarterly/2018Q4/nope.png",
        "/quarterly/2018Q4/hist_hour_start.png",  # a mode-only chart
        "/quarterly/2018Q4/table.png",
        "/quarterly/2018Q4/hist_duration",
        "/quarterly/2018Q4/hist_duration.png/x",
        "/quarterly/2030Q1/hist_duration.png",  # an empty partition
    ):
        status, _, ctype = _fetch(f"{synthetic_site}{path}")
        assert (status, ctype) == (404, "text/plain"), path


def test_requests_are_logged(synthetic_site, caplog):
    """Path, status and latency of each request, logged after its reply."""
    with caplog.at_level(logging.INFO, logger="serve"):
        _fetch(f"{synthetic_site}/mode/FOOD")
        _fetch(f"{synthetic_site}/nope/x")
        deadline = time.monotonic() + 10
        while len(caplog.records) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
    lines = [r.getMessage().split() for r in caplog.records if r.name == "serve"]
    assert [line[:3] for line in lines] == [
        ["GET", "/mode/FOOD", "200"],
        ["GET", "/nope/x", "404"],
    ]
    assert all(line[3].endswith("s") and float(line[3][:-1]) >= 0 for line in lines)


@pytest.fixture(scope="module")
def served(spark):
    from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    cleaned = clean_fact(
        read_sqlite_table(spark, REF_DB, FACT_TABLE, all_string=True)
    ).cache()
    cleaned.count()
    server, url = _serve(cleaned)
    yield url
    server.shutdown()
    server.server_close()
    cleaned.unpersist()


@needs_reference
def test_quarterly_endpoint_serves_golden_partition(served):
    status, body, _ = _fetch(f"{served}/quarterly/2018Q4")
    assert status == 200
    page = body.decode()
    # golden partition facts surface in the page: nav list and mode
    # histogram categories (test_dashboard.py pins the exact counts)
    for expected in ("2018Q3", "2018Q4", "2019Q1", "hist_amount_delivery", "BIKE"):
        assert expected in page
    # capped table rendered
    assert "table (first 200)" in page


@needs_reference
def test_mode_endpoint_and_png_chart(served):
    status, body, _ = _fetch(f"{served}/mode/BIKE")
    assert status == 200
    assert "hist_hour_start" in body.decode()

    status, png, _ = _fetch(f"{served}/quarterly/2018Q4/hist_amount_delivery.png")
    assert status == 200
    assert png[:8] == b"\x89PNG\r\n\x1a\n"  # real PNG magic
    assert len(png) > 100


@needs_reference
def test_unknown_routes_404(served):
    for path in ("/nope/x", "/quarterly", "/quarterly/2018Q4/nope.png"):
        assert _fetch(f"{served}{path}")[0] == 404


@needs_reference
def test_quickstart_example_runs_clean(spark, tmp_path):
    """The examples/quickstart.py tour must run end-to-end (it is the
    documented first-contact surface — a broken example is a doc bug)."""
    import importlib.util
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "quickstart.py",
    )
    spec = importlib.util.spec_from_file_location("quickstart", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.main(str(tmp_path / "qs"))
