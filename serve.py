"""Serving edge for the EP2/EP3 dashboards (reference server.py:137-299).

The reference's primary user surface is a Flask app rendering
matplotlib histograms + HTML tables per quarter / per transport mode.
Neither Flask nor matplotlib ship in this image, so this shim uses only
the stdlib: ``http.server`` for routing and a ~40-line PNG writer for
the charts. The ENGINE side is identical either way — every number that
crosses the wire comes from ``plans/dashboard.py``'s ``collect_dashboard``
(one fused plan per page); this file only formats chart-sized rows and
logs each request's path, status and latency.

Endpoints (mirroring the reference routes):
    GET /                      -> nav index (quarter + mode keys)
    GET /quarterly/<q>         -> EP2 dashboard as HTML tables
    GET /quarterly/<q>/<chart>.png -> one histogram as a PNG bar chart
    GET /mode/<m>              -> EP3 dashboard as HTML tables
    GET /mode/<m>/<chart>.png  -> same for mode dashboards

Run: ``python serve.py [--port 8000]`` (builds the warehouse from the
reference's sqlite export, then serves).
"""

from __future__ import annotations

import html
import logging
import struct
import sys
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from learn_etl_data_warehouse_spark.plans.dashboard import (
    MAX_TABLE_ROWS,
    PAGES,
    Counts,
    Hist,
    Nav,
    collect_dashboard,
    collect_each,
)

log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# Minimal PNG bar chart (stdlib only)
# ---------------------------------------------------------------------------


def _png(pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Encode an RGB pixel grid as a PNG (8-bit, no interlace)."""
    h, w = len(pixels), len(pixels[0])

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload))
        )

    raw = b"".join(
        b"\x00" + b"".join(bytes(px) for px in row) for row in pixels
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def bar_chart_png(
    counts: list[int], width: int = 400, height: int = 240
) -> bytes:
    """Histogram bars on a white canvas — the engine hands bin counts,
    the edge draws rectangles (what plt.hist renders, minus chrome)."""
    bg, fg, axis = (255, 255, 255), (31, 119, 180), (0, 0, 0)
    pixels = [[bg] * width for _ in range(height)]
    top = max(counts) if counts and max(counts) > 0 else 1
    n = max(len(counts), 1)
    bar_w = max((width - 20) // n, 1)
    for i, c in enumerate(counts):
        bar_h = int((height - 20) * (c / top))
        x0 = 10 + i * bar_w
        for y in range(height - 10 - bar_h, height - 10):
            for x in range(x0, min(x0 + bar_w - 2, width - 10)):
                pixels[y][x] = fg
    for x in range(10, width - 9):  # x axis
        pixels[height - 10][x] = axis
    for y in range(10, height - 9):  # y axis
        pixels[y][10] = axis
    return _png(pixels)


# ---------------------------------------------------------------------------
# HTML rendering (tables only — the reference's Jinja layer, de-branded)
# ---------------------------------------------------------------------------


def _table_html(title: str, rows: list[dict]) -> str:
    if not rows:
        return f"<h3>{html.escape(title)}</h3><p>(empty)</p>"
    cols = list(rows[0].keys())
    head = "".join(f"<th>{html.escape(str(c))}</th>" for c in cols)
    body = "".join(
        "<tr>" + "".join(f"<td>{html.escape(str(r[c]))}</td>" for c in cols) + "</tr>"
        for r in rows
    )
    return (
        f"<h3>{html.escape(title)}</h3>"
        f"<table border=1><tr>{head}</tr>{body}</table>"
    )


def render_page(kind: str, key: str, rows: dict[str, list[dict]]) -> str:
    """Collected chart rows (plans/dashboard.py) -> one HTML page."""
    parts = [f"<html><body><h1>{kind} {html.escape(key)}</h1>"]
    for name, chart_rows in rows.items():
        if name == "table":
            parts.append(_table_html(f"table (first {MAX_TABLE_ROWS})", chart_rows))
        elif name.startswith("hist_"):
            parts.append(_table_html(name, chart_rows))
            parts.append(f'<img src="/{kind}/{key}/{name}.png" alt="{name}">')
        elif name.startswith("geo_"):
            parts.append(_table_html(f"{name} (sample)", chart_rows))
        else:  # nav lists
            keys = [str(next(iter(r.values()))) for r in chart_rows]
            links = " | ".join(
                f'<a href="/{"quarterly" if "quarter" in name else "mode"}/'
                f'{k}">{html.escape(k)}</a>'
                for k in keys
            )
            parts.append(f"<p>{html.escape(name)}: {links}</p>")
    parts.append("</body></html>")
    return "".join(parts)


def render_dashboard(kind: str, key: str, dash: dict) -> str:
    """One dashboard dict of DataFrames, collected chart by chart, -> one
    HTML page."""
    return render_page(kind, key, collect_each(dash))


def chart_png(rows: list[dict]) -> bytes | None:
    """Collected histogram rows -> a PNG; None when there are no count
    rows to draw."""
    if not rows or "n" not in rows[0]:
        return None
    return bar_chart_png([int(r["n"]) for r in rows])


def hist_png(dash: dict, chart: str) -> bytes | None:
    df = dash.get(chart)
    if df is None:
        return None
    return chart_png([r.asDict() for r in df.collect()])


# ---------------------------------------------------------------------------
# HTTP shim
# ---------------------------------------------------------------------------

_NAV_CHARTS = [n for n, c in PAGES["quarterly"].charts.items() if isinstance(c, Nav)]


def respond(cleaned, path: str) -> tuple[int, bytes, str]:
    """Route one GET path to (status, body, content type). Every reply
    comes from one ``collect_dashboard`` call: 5 Spark jobs for a page,
    at most 4 for a chart, 2 for the nav index."""
    parts = [p for p in path.split("/") if p]
    if not parts:
        rows = collect_dashboard(cleaned, "quarterly", "", _NAV_CHARTS)
        return 200, render_page("quarterly", "", rows).encode(), "text/html"
    if parts[0] not in PAGES or not 2 <= len(parts) <= 3:
        return 404, b"not found", "text/plain"
    kind, key = parts[0], parts[1]
    if len(parts) == 2:
        page = render_page(kind, key, collect_dashboard(cleaned, kind, key))
        return 200, page.encode(), "text/html"
    chart = parts[2].removesuffix(".png")
    drawable = chart != parts[2] and isinstance(PAGES[kind].charts.get(chart), (Hist, Counts))
    png = drawable and chart_png(collect_dashboard(cleaned, kind, key, [chart])[chart])
    if not png:  # no such chart, or an empty partition
        return 404, b"no such chart", "text/plain"
    return 200, png, "image/png"


def make_handler(cleaned):
    """Handler closure over the cleaned fact DataFrame. Every request
    plans its page afresh over ``cleaned`` with ``respond``; each request
    is logged with its path, status and latency."""

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            t0 = time.perf_counter()
            try:
                code, body, ctype = respond(cleaned, self.path)
            except Exception as exc:  # edge shim: report, don't crash
                log.exception("GET %s failed", self.path)
                code, body, ctype = 500, str(exc).encode(), "text/plain"
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            log.info("GET %s %d %.3fs", self.path, code, time.perf_counter() - t0)

        def log_message(self, *args) -> None:  # requests are logged in do_GET
            pass

    return Handler


def main() -> None:
    port = int(sys.argv[sys.argv.index("--port") + 1]) if "--port" in sys.argv else 8000
    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(message)s")
    from learn_etl_data_warehouse_spark.plans.warehouse import clean_fact
    from learn_etl_data_warehouse_spark.session import get_spark
    from learn_etl_data_warehouse_spark.sources.sqlite import read_sqlite_table

    ref_db = "/root/reference/assets/oltp/dummy_ojol_transactions_raw_only.sqlite"
    table = "dummy_ojol_transactions_raw_only_query_get_transaction_list_koto"
    spark = get_spark(app_name="letl-dw-serve", master="local[4]")
    cleaned = clean_fact(
        read_sqlite_table(spark, ref_db, table, all_string=True)
    ).cache()
    cleaned.count()  # materialize once; requests then hit the cache
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(cleaned))
    print(f"serving dashboards on http://127.0.0.1:{port}/")
    server.serve_forever()


if __name__ == "__main__":
    main()
