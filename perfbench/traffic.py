"""Seeded PriceIndex traffic for the write workloads, and the model of
what the warehouse must hold after it.

A delivery is one CSV file shaped like the StatCan CPI extract the
ingest spine routes (15 canonical columns, one row per series and
month, so keys are unique within a file). The mix, in order:

1. one base extract;
2. one full re-delivery: every series over a window shifted one month
   later, so about 30% of the existing keys carry a revised VALUE and
   one new month appears;
3. a 12-row correction with bad lines within ``maxerrors``, then its
   crash-replay (same bytes, same mtime);
4. a 12-row correction over ``maxerrors``;
5. a file whose name routes nowhere.

The same seed yields byte-identical files. ``expected_table`` and
``expected_report`` are plain-Python models of the delta-wins upsert
and of the report it maintains; they never call the package.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from decimal import Decimal

COLUMNS = (
    "Date",
    "GEO",
    "DGUID",
    "Products",
    "UOM",
    "UOM_ID",
    "SCALAR_FACTOR",
    "SCALAR_ID",
    "VECTOR",
    "COORDINATE",
    "VALUE",
    "STATUS",
    "SYMBOL",
    "TERMINATED",
    "DECIMALS",
)
KEYS = ("VECTOR", "Date")
GROUP_KEYS = ("GEO", "Products")
# the report's measure: an exact decimal sum, so retraction is exact
SUM_EXPR = "CAST(VALUE AS DECIMAL(18,1))"
MAXERRORS = 5

GEOS = (
    "Canada",
    "Quebec",
    "Ontario",
    "Manitoba",
    "Saskatchewan",
    "Alberta",
    "British Columbia",
    "Nova Scotia",
    "New Brunswick",
    "Newfoundland and Labrador",
)
PRODUCTS = (
    "All-items",
    "Food",
    "Shelter",
    "Household operations",
    "Clothing and footwear",
    "Transportation",
    "Health and personal care",
    "Recreation",
    "Alcoholic beverages",
    "Energy",
)
N_SERIES = len(GEOS) * len(PRODUCTS)
WINDOW_MONTHS = 50  # rows per full extract = N_SERIES * WINDOW_MONTHS
UPDATE_SHARE = 0.3
CORRECTION_ROWS = 12
BAD_LINE_SUFFIX = ",extra,extra"


@dataclass(frozen=True)
class Delivery:
    """One file of the traffic and what the pipeline must answer."""

    name: str
    kind: str  # base | redelivery | bad_within | replay | bad_over | unroutable
    payload: bytes
    good_rows: tuple[tuple[str, ...], ...]  # parsed rows the load applies
    bad_lines: int
    status: str  # the IngestReport.status the pipeline must return

    @property
    def applies(self) -> bool:
        """Whether the rows reach the permanent table."""
        return self.status == "ok"


def _month(i: int) -> str:
    return f"{2019 + i // 12:04d}-{i % 12 + 1:02d}"


def _series(i: int) -> dict[str, str]:
    g, p = divmod(i, len(PRODUCTS))
    return {
        "GEO": GEOS[g],
        "DGUID": f"2016A0000110{g:02d}",
        "Products": PRODUCTS[p],
        "UOM": "2002=100",
        "UOM_ID": "17",
        "SCALAR_FACTOR": "units",
        "SCALAR_ID": "0",
        "VECTOR": f"v4169{i:04d}",
        "COORDINATE": f"{g + 1}.{p + 1}",
        "STATUS": "",
        "SYMBOL": "",
        "TERMINATED": "",
        "DECIMALS": "1",
    }


def _row(series: dict[str, str], month: int, value: Decimal) -> tuple[str, ...]:
    full = dict(series, Date=_month(month), VALUE=str(value))
    return tuple(full[c] for c in COLUMNS)


def csv_bytes(rows, bad_lines: int = 0) -> bytes:
    """A delivery's bytes: header, rows, then ``bad_lines`` malformed lines."""
    lines = [",".join(COLUMNS)]
    lines += [",".join(r) for r in rows]
    # a malformed line: two trailing fields past the header's 15
    lines += [",".join(rows[0]) + BAD_LINE_SUFFIX] * bad_lines
    return ("\n".join(lines) + "\n").encode()


class _Book:
    """The generator's view of the current VALUE of every key."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.series = [_series(i) for i in range(N_SERIES)]
        self.level = [Decimal(rng.randint(900, 1600)) / 10 for _ in range(N_SERIES)]
        self.value: dict[tuple[int, int], Decimal] = {}

    def fresh(self, s: int, month: int) -> Decimal:
        drift = Decimal(self.rng.randint(-5, 15)) / 10
        return self.level[s] + Decimal(month) * Decimal("0.3") + drift

    def revised(self, key: tuple[int, int]) -> Decimal:
        step = Decimal(self.rng.choice((-1, 1)) * self.rng.randint(1, 20)) / 10
        return self.value[key] + step

    def rows(self, keys) -> tuple[tuple[str, ...], ...]:
        return tuple(_row(self.series[s], m, self.value[(s, m)]) for s, m in keys)


def generate(seed: int) -> list[Delivery]:
    """The scripted delivery sequence for ``seed``: base, re-delivery,
    correction with bad lines within ``maxerrors``, its crash-replay,
    correction over ``maxerrors``, unroutable name."""
    rng = random.Random(seed)
    book = _Book(rng)

    base_keys = [(s, m) for s in range(N_SERIES) for m in range(WINDOW_MONTHS)]
    for k in base_keys:
        book.value[k] = book.fresh(*k)
    rows = book.rows(base_keys)
    base = Delivery("PriceIndex_001_base.csv", "base", csv_bytes(rows), rows, 0, "ok")

    # the window shifted one month later: one new month, about 30% of the
    # existing keys revised
    keys = [(s, m) for s in range(N_SERIES) for m in range(1, 1 + WINDOW_MONTHS)]
    for k in keys:
        if k not in book.value:
            book.value[k] = book.fresh(*k)
        elif rng.random() < UPDATE_SHARE:
            book.value[k] = book.revised(k)
    rows = book.rows(keys)
    redelivery = Delivery("PriceIndex_002_redelivery.csv", "redelivery", csv_bytes(rows), rows, 0, "ok")

    def correction(name: str, kind: str, bad: int, status: str) -> Delivery:
        keys = rng.sample(sorted(book.value), CORRECTION_ROWS)
        proposed = {k: book.revised(k) for k in keys}
        if status == "ok":
            book.value.update(proposed)
        rows = tuple(_row(book.series[s], m, proposed[(s, m)]) for s, m in keys)
        return Delivery(name, kind, csv_bytes(rows, bad), rows, bad, status)

    bad_within = correction("PriceIndex_003_correction_bad.csv", "bad_within", 3, "ok")
    replay = Delivery(bad_within.name, "replay", bad_within.payload, bad_within.good_rows,
                      bad_within.bad_lines, "ok")
    bad_over = correction("PriceIndex_004_correction_rejected.csv", "bad_over", MAXERRORS + 2,
                          "rejected")
    rows = book.rows(rng.sample(sorted(book.value), CORRECTION_ROWS))
    unroutable = Delivery("statcan_extract_005.csv", "unroutable", csv_bytes(rows), rows, 0, "skipped")
    return [base, redelivery, bad_within, replay, bad_over, unroutable]


def land(delivery: Delivery, landing_dir: str, mtime_ns: int | None = None) -> str:
    """Drop one delivery into ``landing_dir`` the way an object store
    does: write a hidden temp name, then rename into place, so a reader
    listing the directory never sees a partial file. ``mtime_ns`` pins
    the modification time (a crash-replay reuses the first landing's)."""
    final = os.path.join(landing_dir, delivery.name)
    tmp = os.path.join(landing_dir, f".{delivery.name}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(delivery.payload)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, final)
    return final


def expected_table(deliveries) -> dict[tuple[str, str], tuple[str, ...]]:
    """The permanent table after the deliveries, keyed on (VECTOR, Date):
    applied files upsert in order and the later row wins."""
    ki = [COLUMNS.index(k) for k in KEYS]
    table: dict[tuple[str, str], tuple[str, ...]] = {}
    for d in deliveries:
        if d.applies:
            for row in d.good_rows:
                table[tuple(row[i] for i in ki)] = row
    return table


def expected_report(rows) -> dict[tuple[str, str], tuple[int, Decimal]]:
    """GROUP BY GEO, Products: (count, exact sum of VALUE) over ``rows``."""
    gi = [COLUMNS.index(k) for k in GROUP_KEYS]
    vi = COLUMNS.index("VALUE")
    out: dict[tuple[str, str], tuple[int, Decimal]] = {}
    for row in rows:
        g = tuple(row[i] for i in gi)
        n, s = out.get(g, (0, Decimal(0)))
        out[g] = (n + 1, s + Decimal(row[vi]))
    return out


def mix(deliveries) -> list[dict]:
    """The recorded file mix: name, kind, bytes, rows and scripted status."""
    return [
        {
            "name": d.name,
            "kind": d.kind,
            "bytes": len(d.payload),
            "good_rows": len(d.good_rows),
            "bad_lines": d.bad_lines,
            "status": d.status,
        }
        for d in deliveries
    ]
