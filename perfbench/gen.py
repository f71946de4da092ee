"""Seeded climate-archive generator for the `pipelines_archive` workload.

The archive is an `events` table in the harness schema (see the repo's
TESTDATA.md) spread over twenty consecutive months, 2023-05 to 2024-12,
with skewed month sizes, next to copies of the harness `supplier` and
`nation` tables, which the pipelines use as dimensions (land cells and
countries).

The month sizes are one fixed skewed profile. The seed permutes the
profile within each calendar year and draws every row: timestamps
(whole seconds), values (two decimals, about 2% NULL), users, event
types. So every seed does the same amount of work per year while the
calendar layout and the rows differ. One month of the profile holds
more rows than `Climate.MaxFeaturesPerDoc`, so the temperature and
humidity documents take the sharded route; `check_routes` proves for
each seed that at least one month is over the bound and at least one
is within it, and fails loudly otherwise.

Same seed, same bytes: the table is written by pyarrow in one file,
with no per-run metadata.
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Climate.MaxFeaturesPerDoc (1 << 17); run.py checks it against the
# value the engine reports, so a change there cannot go unnoticed.
MAX_FEATURES_PER_DOC = 1 << 17

MONTHS = [(2023, m) for m in range(5, 13)] + [(2024, m) for m in range(1, 13)]
NULL_SHARE = 0.02

# Rows per month before NULLs (~245k in all). The over-bound month
# keeps a margin of >100 standard deviations above MAX_FEATURES_PER_DOC
# after its NULLs; the others fall off geometrically, so the months
# differ by up to ~100x.
BIG_MONTH = 140_000
PROFILE_2024 = [BIG_MONTH] + [int(15_000 * 0.8 ** i) for i in range(11)]
PROFILE_2023 = [int(10_000 * 0.75 ** i) for i in range(8)]

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"], dtype=object)

# the temperature/humidity time window (Climate.monthlyMasked)
WINDOW = ((2022, 1), (2025, 5))


def month_sizes(rng):
    """The size profile, permuted by the seed within each year."""
    sizes = {}
    for year, profile in ((2023, PROFILE_2023), (2024, PROFILE_2024)):
        months = [ym for ym in MONTHS if ym[0] == year]
        for ym, n in zip(months, rng.permutation(profile)):
            sizes[ym] = int(n)
    return sizes


def _epoch_s(year, month):
    return int(np.datetime64(f"{year:04d}-{month:02d}-01", "s").astype(np.int64))


def generate_events(seed):
    """The events table for `seed` as a pyarrow Table, rows in time order."""
    rng = np.random.default_rng(seed)
    sizes = month_sizes(rng)
    ts = []
    for (y, m), n in sorted(sizes.items()):
        lo = _epoch_s(y, m)
        hi = _epoch_s(y + (m == 12), m % 12 + 1)
        ts.append(np.sort(rng.integers(lo, hi, size=n)))
    ts_s = np.concatenate(ts)
    n = len(ts_s)
    value = np.round(rng.uniform(0.0, 560.0, size=n), 2)
    null = rng.random(n) < NULL_SHARE
    user = rng.integers(0, 1500, size=n)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), size=n)]
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, size=n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_s * 1_000_000, type=pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64)),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(value, mask=null, type=pa.float64()),
        "props": pa.array(props.astype(object), type=pa.string()),
    })


def land_cells(supplier):
    """Climate.landCells: supplier balances hashed onto the 30-degree
    grid, as cell codes `cell_lat * 100 + cell_lon`."""
    bal = supplier.column("s_acctbal").to_numpy(zero_copy_only=False)
    lat = np.fmod(np.fmod(bal, 180) + 180, 180) - 90
    lon = np.fmod(np.fmod(bal * 7, 360) + 360, 360) - 180
    return np.unique(np.floor((lat + 90.0) / 30.0).astype(int) * 100
                     + np.floor((lon + 180.0) / 30.0).astype(int))


def document_features(events, supplier):
    """Features per (year, month) that reach the temperature/humidity
    documents: in the time window, value not NULL, on a land cell."""
    eid = events.column("event_id").to_numpy()
    ts = events.column("ts").to_numpy().astype("datetime64[M]").astype(np.int64)
    year, month = ts // 12 + 1970, ts % 12 + 1
    lat = (eid % 360) * 0.5 - 90.0
    lon = ((eid * 7) % 576) * 0.625 - 180.0
    cell = (np.floor((lat + 90.0) / 30.0).astype(int) * 100
            + np.floor((lon + 180.0) / 30.0).astype(int))
    land = np.isin(cell, land_cells(supplier))
    keep = events.column("value").is_valid().to_numpy(zero_copy_only=False) & land
    ym = year * 100 + month
    lo, hi = WINDOW
    keep &= (ym >= lo[0] * 100 + lo[1]) & (ym <= hi[0] * 100 + hi[1])
    counts = {}
    for k in np.unique(ym):
        counts[(int(k // 100), int(k % 100))] = (int((ym == k).sum()), int((keep & (ym == k)).sum()))
    return counts


class RouteCoverageError(Exception):
    """The archive would leave one of the two document routes unused."""


def check_routes(counts, bound=MAX_FEATURES_PER_DOC):
    """Both document routes must be exercised; raises otherwise."""
    over = [ym for ym, (_, f) in counts.items() if f > bound]
    within = [ym for ym, (_, f) in counts.items() if 0 < f <= bound]
    if not over or not within:
        raise RouteCoverageError(f"archive does not exercise both document routes: "
                         f"{len(over)} month(s) over {bound} features, {len(within)} within")
    return over, within


def histogram(counts, bound=MAX_FEATURES_PER_DOC):
    lines = ["month     rows  features  route"]
    for (y, m), (rows, feats) in sorted(counts.items()):
        route = "sharded" if feats > bound else "in-bound"
        lines.append(f"{y:04d}-{m:02d} {rows:8d} {feats:9d}  {route}")
    return "\n".join(lines)


def generate(seed, out_dir, dims_dir, log=sys.stderr):
    """Write the archive for `seed` into `out_dir`; returns the month counts."""
    os.makedirs(out_dir, exist_ok=True)
    events = generate_events(seed)
    for t in ("supplier", "nation"):
        shutil.copyfile(os.path.join(dims_dir, f"{t}.parquet"),
                        os.path.join(out_dir, f"{t}.parquet"))
    supplier = pq.read_table(os.path.join(dims_dir, "supplier.parquet"))
    counts = document_features(events, supplier)
    check_routes(counts)
    pq.write_table(events, os.path.join(out_dir, "events.parquet"), compression="snappy")
    print(histogram(counts), file=log)
    return counts
