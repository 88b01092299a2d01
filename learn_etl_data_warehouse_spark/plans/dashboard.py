"""EP2/EP3 dashboard queries (reference server.py:152-299) — the two
parameterized HTTP endpoints that ARE the reference's query workload.

The engine computes exactly what crosses the wire in the reference's
charts: binned counts (A3), hour extractions, the geo scatter projection,
the table payload, and the nav key lists. Rendering (matplotlib/Jinja)
stays at the serving edge per SURVEY §7.2.

Each page is declared once in :data:`PAGES` (chart name → definition),
and two plans are built from that declaration:

- :func:`dashboard` — one DataFrame per chart (``quarterly_dashboard`` /
  ``mode_dashboard``), collected one at a time by :func:`collect_each`.
  Every histogram there is its own stats → broadcast → bin → sort plan,
  so a page costs 33–41 Spark jobs.
- :func:`collect_dashboard` — the same rows from three fused plans:
  one ``groupBy(quarter, mode)`` aggregate for every histogram's min/max,
  both nav lists and the categorical counts; one ``explode`` +
  ``groupBy(chart, bin)`` over the filtered partition with the stats as
  literals; one ``limit`` collect for the table and the geo samples.
  A page costs 5 jobs (more only while the ``limit`` widens its scan
  past a first input partition short of the table); the serving edge
  uses this one.

At scale the ``quarter``/``mode`` filters hit the partitioned warehouse
layout (`build_ojol_warehouse`) as partition-pruned scans — the engine's
replacement for the reference's dict-of-DataFrames lookup.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.histogram import bin_edges, bin_index, categorical_histogram, histogram
from ..operators.rollups import distinct_keys

NBINS = 10  # plt.hist's default, as the reference plots
MAX_TABLE_ROWS = 200  # edge guard: never stream an unbounded table
GEO_ROWS = 50  # the geo scatters sample the table's first rows


@dataclass(frozen=True)
class Hist:
    """Equal-width histogram of a SQL expression over the partition."""

    expr: str


@dataclass(frozen=True)
class Counts:
    """Value counts of a categorical column over the partition."""

    col: str


@dataclass(frozen=True)
class Geo:
    """Scatter sample: the first ``GEO_ROWS`` table rows, projected."""

    cols: tuple[str, ...]


@dataclass(frozen=True)
class Table:
    """The partition's first ``MAX_TABLE_ROWS`` rows."""


@dataclass(frozen=True)
class Nav:
    """Sorted distinct keys of the whole snapshot."""

    col: str


class Page(NamedTuple):
    key_col: str  # the partition column the page's key filters
    charts: dict  # chart name -> definition, in display order


# the reference template renders BOTH nav lists on every page
# (server.py:216-220, 296-299)
_TAIL = {"table": Table(), "nav_quarters": Nav("quarter"), "nav_modes": Nav("mode")}

PAGES = {
    # EP2 — GET /quarterly/<q> (server.py:152-220)
    "quarterly": Page("quarter", {
        "hist_amount_delivery": Hist("amount_delivery"),
        "hist_mode": Counts("mode"),
        "hist_distance_rounded": Hist("distance_rounded"),
        "hist_duration": Hist("duration"),
        "geo_from": Geo(("from_lat", "from_lng", "mode")),
        "geo_to": Geo(("to_lat", "to_lng", "mode")),
        **_TAIL,
    }),
    # EP3 — GET /mode/<m> (server.py:223-299): the reference feeds numeric
    # hours to plt.hist → 10 equal-width bins over [min_hour, max_hour],
    # NOT per-hour value counts (its only query-time date-part extraction)
    "mode": Page("mode", {
        "hist_amount_delivery": Hist("amount_delivery"),
        "hist_distance_rounded": Hist("distance_rounded"),
        "hist_duration": Hist("duration"),
        "hist_hour_start": Hist("hour(date_start)"),
        "hist_hour_end": Hist("hour(date_end)"),
        "geo_from": Geo(("from_lat", "from_lng")),
        "geo_to": Geo(("to_lat", "to_lng")),
        **_TAIL,
    }),
}


def dashboard(cleaned: DataFrame, kind: str, key: str) -> dict[str, DataFrame]:
    """One DataFrame per chart of page ``kind`` for partition ``key``."""
    page = PAGES[kind]
    part = cleaned.filter(F.col(page.key_col) == key)
    dash = {}
    for name, chart in page.charts.items():
        if isinstance(chart, Hist):
            dash[name] = histogram(part.select(F.expr(chart.expr).alias("_h")), "_h", NBINS)
        elif isinstance(chart, Counts):
            dash[name] = categorical_histogram(part, chart.col)
        elif isinstance(chart, Geo):
            dash[name] = part.select(*chart.cols)
        elif isinstance(chart, Table):
            dash[name] = part
        else:
            dash[name] = distinct_keys(cleaned, chart.col)
    return dash


def quarterly_dashboard(cleaned: DataFrame, quarter: str) -> dict[str, DataFrame]:
    """EP2: 3 numeric histograms, the mode counts, 2 geo scatters, the
    table and both nav lists."""
    return dashboard(cleaned, "quarterly", quarter)


def mode_dashboard(cleaned: DataFrame, mode: str) -> dict[str, DataFrame]:
    """EP3: like EP2 but keyed by transport mode, plus the hour-of-day
    histograms."""
    return dashboard(cleaned, "mode", mode)


def collect_each(dash: dict[str, DataFrame]) -> dict[str, list[dict]]:
    """Collect a :func:`dashboard` dict one plan per chart: the table
    capped at ``MAX_TABLE_ROWS`` rows, the geo samples at ``GEO_ROWS``."""
    limits = {"table": MAX_TABLE_ROWS, "geo": GEO_ROWS}
    out = {}
    for name, df in dash.items():
        limit = limits.get(name.split("_")[0])
        out[name] = [r.asDict() for r in (df.limit(limit) if limit else df).collect()]
    return out


def _asc(v) -> tuple:
    """Spark's ascending order: NULL first, NaN after every number."""
    return (v is not None, isinstance(v, float) and math.isnan(v), v if v == v else 0)


def collect_dashboard(
    cleaned: DataFrame, kind: str, key: str, charts: list[str] | None = None
) -> dict[str, list[dict]]:
    """The rows :func:`collect_each` returns for ``dashboard(cleaned,
    kind, key)`` — restricted to ``charts`` when given — from at most
    three plans (5 Spark jobs for a full page)."""
    page = PAGES[kind]
    names = list(page.charts) if charts is None else list(charts)
    unknown = [n for n in names if n not in page.charts]
    if unknown:
        raise KeyError(f"no chart {unknown} on the {kind} page")
    want = {n: page.charts[n] for n in page.charts if n in names}
    hists = {n: c for n, c in want.items() if isinstance(c, Hist)}
    navs = [c.col for c in want.values() if isinstance(c, Nav)]
    counts = [c.col for c in want.values() if isinstance(c, Counts)]
    part = cleaned.filter(F.col(page.key_col) == key)
    out: dict[str, list[dict]] = {}
    size = None  # the partition's row count, once the stats know it

    if hists or navs or counts:
        # stats and nav: nav lists need the whole snapshot, the rest only
        # the partition; both come out of one small grouped aggregate
        keys = list(dict.fromkeys([page.key_col, *navs, *counts]))
        aggs = [F.count(F.lit(1)).alias("_n")]
        for name, chart in hists.items():
            v = F.expr(chart.expr)
            aggs += [F.min(v).alias(f"min_{name}"), F.max(v).alias(f"max_{name}")]
        stats_df = (cleaned if navs else part).groupBy(*keys).agg(*aggs)
        groups = stats_df.collect()
        mine = [g for g in groups if g[page.key_col] == key]
        size = sum(g["_n"] for g in mine)
        for name, chart in want.items():
            if isinstance(chart, Nav):
                values = sorted({g[chart.col] for g in groups}, key=_asc)
                out[name] = [{chart.col: v} for v in values]
            elif isinstance(chart, Counts):
                n = Counter()
                for g in mine:
                    n[g[chart.col]] += g["_n"]
                out[name] = [{chart.col: v, "n": n[v]} for v in sorted(n, key=_asc)]
        if hists:
            out.update(_bins(part, hists, mine, stats_df.schema) if size else
                       {name: [] for name in hists})

    if any(isinstance(c, (Table, Geo)) for c in want.values()):
        table = [] if size == 0 else [
            r.asDict() for r in part.limit(MAX_TABLE_ROWS).collect()
        ]
        for name, chart in want.items():
            if isinstance(chart, Table):
                out[name] = table
            elif isinstance(chart, Geo):
                out[name] = [{c: r[c] for c in chart.cols} for r in table[:GEO_ROWS]]
    return {name: out[name] for name in want}


def _bins(part: DataFrame, hists: dict, groups: list, schema) -> dict[str, list[dict]]:
    """Every histogram of the page from one ``explode`` + ``groupBy(chart,
    bin)`` over the partition. Each chart's min/max, folded from the
    per-group stats, goes in as a literal of the column's own type, so
    ``bin_index``/``bin_edges`` compute exactly what :func:`histogram`
    computes from its broadcast stats row. The edges of every chart are
    picked by one CASE over the chart name, so they share one type:
    double, for every non-decimal column."""
    b = F.col("bin")
    per_chart, start, end = [], F, F  # F.when opens each CASE, .when extends it
    for name, chart in hists.items():
        lo = [g[f"min_{name}"] for g in groups if g[f"min_{name}"] is not None]
        hi = [g[f"max_{name}"] for g in groups if g[f"max_{name}"] is not None]
        vtype = schema[f"min_{name}"].dataType
        vmin = F.lit(min(lo, key=_asc) if lo else None).cast(vtype)
        vmax = F.lit(max(hi, key=_asc) if hi else None).cast(vtype)
        per_chart.append(F.struct(
            F.lit(name).alias("chart"),
            bin_index(F.expr(chart.expr), vmin, vmax, NBINS).alias("bin"),
        ))
        lo_edge, hi_edge = bin_edges(b, vmin, vmax, NBINS)
        is_chart = F.col("chart") == name
        start, end = start.when(is_chart, lo_edge), end.when(is_chart, hi_edge)
    binned = (
        part.select(F.explode(F.array(*per_chart)).alias("c"))
        .groupBy("c.chart", "c.bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("chart", "bin", start.alias("bin_start"), end.alias("bin_end"), "n")
        .collect()
    )
    out: dict[str, list[dict]] = {name: [] for name in hists}
    for r in sorted(binned, key=lambda r: r["bin"]):  # a bin is never NULL
        row = r.asDict()
        out[row.pop("chart")].append(row)
    return out
