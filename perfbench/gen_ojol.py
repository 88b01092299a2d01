"""Seeded synthetic ojol raw fact (FIXTURES.md §A1) and its known counts.

Every column is a string, as in the reference's typeless SQLite export,
with the reference's corruption patterns:

- kelurahan ids as scientific-notation strings (``'6.171031002E9'``) or
  plain ten-digit strings, about half each;
- about 0.5% of ``transaction_from_latlng`` values carry the 31-tab
  corruption (``'<lat>,<lng> ' + '\\t' * 31 + '<lat>'``);
- ``merchant_id`` (and the merchant amount) is empty iff the mode is BIKE
  or CAR;
- ``date_process`` is ``'<start> s/d <end>'`` with durations from 5 to
  30,160 minutes, so many rows cross midnight.

The rows are built with vectorized NumPy and Arrow compute kernels (no
per-row Python), so 200k rows take about a second. The per-quarter and
per-mode counts are derived from the numeric draws, independently of
the engine's string cleaning, and serve as the workload's correctness
check.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

MODES = np.asarray(["BIKE", "CAR", "FOOD", "SHOP"])
MODE_P = np.asarray([594, 337, 506, 441]) / 1878  # reference mode shares
STREETS = pa.array(
    ["Jl. Gajah Mada", "Jl. Tanjungpura", "Jl. Ahmad Yani", "Jl. Sungai Raya",
     "Jl. Imam Bonjol", "Jl. Veteran", "Jl. Diponegoro", "Jl. Hijas"]
)
# 29 Pontianak-style kelurahan ids; none ends in 0, so the sci-notation
# form keeps every digit (the reference cleaning deletes '.' and 'E9')
KELURAHAN = [
    str(6171000000 + kec * 10000 + k) for kec in range(1, 7) for k in range(1, 6)
][:29]
_START = np.datetime64("2018-07-01T00:00", "m")
_END = np.datetime64("2019-04-01T00:00", "m")


def _join(*parts) -> pa.Array:
    return pc.binary_join_element_wise(*parts, "")


def _text(values: np.ndarray) -> pa.Array:
    return pa.array(values).cast(pa.string())


def _float_text(ints: np.ndarray) -> pa.Array:
    """Whole numbers as the export writes them: ``'2500.0'``."""
    return _join(_text(ints), ".0")


def _ts_text(minutes: np.ndarray) -> pa.Array:
    return pc.strftime(
        pa.array(minutes.astype("datetime64[s]")), format="%Y-%m-%d %H:%M:%S"
    )


def _latlng(rng: np.random.Generator, n: int) -> tuple[pa.Array, pa.Array]:
    lat = _text(np.round(rng.uniform(-0.09, 0.01, n), 6))
    lng = _text(np.round(rng.uniform(109.27, 109.38, n), 6))
    return lat, _join(lat, ",", lng)


def _kelurahan(rng: np.random.Generator, n: int) -> pa.Array:
    variants = pa.array(KELURAHAN + [f"{k[0]}.{k[1:]}E9" for k in KELURAHAN])
    pick = rng.integers(0, len(KELURAHAN), n) + len(KELURAHAN) * (rng.random(n) < 0.5)
    return variants.take(pa.array(pick))


def generate_ojol(n: int, seed: int) -> tuple[pa.Table, dict]:
    """Return ``(raw_fact, expected)``: an all-string ``pa.Table`` of
    ``n`` rows with ids ``1.0 .. n.0``, and the known counts
    ``{"rows", "by_quarter", "by_mode"}``."""
    rng = np.random.default_rng([seed, 0x0701])
    mode = MODES[rng.choice(len(MODES), n, p=MODE_P)]
    has_merchant = (mode == "FOOD") | (mode == "SHOP")

    span = int((_END - _START).astype("int64"))
    start = _START + rng.integers(0, span, n).astype("timedelta64[m]")
    # mostly short trips; 3% long-running orders up to 30,160 minutes
    duration = np.where(
        rng.random(n) < 0.03,
        rng.integers(180, 30_161, n),
        rng.integers(5, 180, n),
    )
    end = start + duration.astype("timedelta64[m]")

    from_lat, from_latlng = _latlng(rng, n)
    _, to_latlng = _latlng(rng, n)
    corrupt = pa.array(rng.random(n) < 0.005)
    from_latlng = pc.if_else(
        corrupt, _join(from_latlng, " " + "\t" * 31, from_lat), from_latlng
    )

    delivery = rng.integers(4, 100, n) * 500
    merchant = np.where(has_merchant, rng.integers(10, 600, n) * 500, 0)
    merchant_id = pc.if_else(
        pa.array(has_merchant), _float_text(rng.integers(1, 85, n)), ""
    )

    def address(size: int) -> pa.Array:
        street = STREETS.take(pa.array(rng.integers(0, len(STREETS), size)))
        return _join(street, " No. ", _text(rng.integers(1, 300, size)), ", Pontianak")

    columns = {
        "id": _float_text(np.arange(1, n + 1)),
        "date_process": _join(_ts_text(start), " s/d ", _ts_text(end)),
        "mode": pa.array(mode),
        "from_alamat": address(n),
        "from_kelurahanid": _kelurahan(rng, n),
        "transaction_from_latlng": from_latlng,
        "to_alamat": address(n),
        "to_kelurahanid": _kelurahan(rng, n),
        "transaction_to_latlng": to_latlng,
        "distance": _text(np.round(np.minimum(rng.exponential(11.5, n), 762.13), 2)),
        "amount_delivery": _float_text(delivery),
        "amount_merchant": _float_text(merchant),
        "transaction_amount_total": _float_text(delivery + merchant),
        "customer_id": _float_text(rng.integers(1, 75, n)),
        "driver_id": _float_text(rng.integers(100, 135, n)),
        "merchant_id": merchant_id,
    }
    months = start.astype("datetime64[M]").astype("int64")
    quarters = Counter(zip((months // 12 + 1970).tolist(), (months % 12 // 3 + 1).tolist()))
    expected = {
        "rows": n,
        "by_quarter": {f"{y}Q{q}": c for (y, q), c in quarters.items()},
        "by_mode": dict(Counter(mode.tolist())),
    }
    return pa.table(columns), expected
