#!/usr/bin/env python3
"""Seeded generator for a raw NYC-TLC-style taxi drop.

Writes one parquet file per (cab type, month) under
``<out>/<cab>/<cab>_tripdata_YYYY-MM.parquet`` in the four real schemas
(yellow, green, fhv, fhvhv), including the FHV ``PUlocationID`` /
``dropOff_datetime`` spelling traps and the FHVHV file's missing
``total_amount`` (the normalizer must rebuild it from fare components).

Every ``Cleaning`` bound is straddled on purpose: rows with NULL or
inverted timestamps, durations of exactly 0.5 and 1440 minutes next to
30.5-second-longer / 1-second-shorter ones, distances of 0, 500 and
their near neighbours, negative and zero fares, NULL distances and
fares. Pick-up zones are Zipf-skewed, and a few rows carry stray
pick-up dates (neighbouring months and far-off years), as real TLC
files do. The same seed always gives byte-identical files.

The drop follows the reference's published scale (BASELINE.md), shrunk
in rows more than in layout. The reference spans 2015-01 to 2025-09 in
303+ monthly files over the four cab types ("Months of data"). Here
every cab has every month of that span's last 45 months, 2022-01 to
2025-09: 180 monthly files, so the curated tree has 180 month
partitions to list and prune, and a one-month request reads 1/45 of it.
The earlier months are left out to keep a run within the benchmark's
time budget: each file costs the batch and every whole-tree request a
fixed amount, and at 320 files (the whole FHVHV era, 2019-02 on) an
analytics run took about 105 s, more than the budget leaves for one.
The cab split is set so that FHVHV carries about 72% of the revenue of
the fare-carrying cabs (yellow, green, fhvhv), the middle of
BASELINE.md's "FHVHV ≈ 70–75% of revenue by 2025" (Report.pdf §8.9);
fares per mile are alike across cabs here, so trip share ≈ revenue
share. The yellow/green/fhv split within the rest is not published and
is a stated assumption.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CABS = ("yellow", "green", "fhv", "fhvhv")
MONTHS = [(y, m) for y in range(2022, 2026) for m in range(1, 13) if (y, m) <= (2025, 9)]
# trip share per cab: fhvhv / (yellow + green + fhvhv) = 0.65 / 0.90 ≈ 0.72
CAB_SHARE = {"yellow": 0.22, "green": 0.03, "fhv": 0.10, "fhvhv": 0.65}
BOROUGHS = ("EWR", "Manhattan", "Brooklyn", "Queens", "Bronx", "Staten Island")
N_ZONES = 265
# hour-of-day trip profile (late-evening peak, early-morning trough)
HOUR_WEIGHTS = np.array([4, 3, 2, 1.5, 1, 1.2, 2.5, 4, 5, 5, 5, 5.2, 5.5, 5.5,
                         5.8, 6, 6.3, 6.8, 7, 6.8, 6.5, 6.2, 5.8, 5])
HOUR_CDF = np.cumsum(HOUR_WEIGHTS) / HOUR_WEIGHTS.sum()


def _month_start(y, m):
    return np.datetime64(f"{y:04d}-{m:02d}-01T00:00:00", "s")


def _weighted(rng, cdf, n):
    """n draws of indices with the cumulative weights ``cdf``."""
    return np.minimum(np.searchsorted(cdf, rng.random(n), side="right"), len(cdf) - 1)


def _zones(rng, n, perm, zipf_cdf):
    """Zipf-skewed zone ids: a handful of hot zones carry most trips."""
    return perm[_weighted(rng, zipf_cdf, n)].astype(np.int32)


def _timestamps(rng, n, y, m):
    """Pick-up/drop-off pairs (whole seconds) with dirty classes that
    straddle every timestamp and duration bound of ``Cleaning``."""
    start = _month_start(y, m)
    days = (_month_start(y + (m == 12), m % 12 + 1) - start).astype(int) // 86400
    hours = _weighted(rng, HOUR_CDF, n)
    secs = (rng.integers(0, days, n) * 86400 + hours * 3600
            + rng.integers(0, 3600, n))
    pickup = start + secs.astype("timedelta64[s]")
    # stray dates: last day of the previous month, and far-off years
    stray = rng.random(n)
    pickup = np.where(stray < 0.004, start - np.timedelta64(3600, "s"), pickup)
    far = np.datetime64("2002-12-31T23:00:00", "s")
    pickup = np.where((stray >= 0.004) & (stray < 0.0043), far, pickup)
    dur = np.clip(rng.lognormal(np.log(720), 0.6, n), 60, 4 * 3600).astype(np.int64)
    cls = rng.random(n)
    edges = np.cumsum([0.003, 0.003, 0.003, 0.003, 0.002, 0.002,
                       0.001, 0.001, 0.001])
    dur = np.select(
        [cls < edges[2], cls < edges[3], cls < edges[4], cls < edges[5],
         cls < edges[6], cls < edges[7], cls < edges[8]],
        [0, -300, 30, 31, 1440 * 60, 1440 * 60 - 1, 2 * 86400], dur)
    dropoff = pickup + dur.astype("timedelta64[s]")
    pickup_null = cls < edges[0]
    dropoff_null = (cls >= edges[0]) & (cls < edges[1])
    return (pa.array(pickup, pa.timestamp("us"), mask=pickup_null),
            pa.array(dropoff, pa.timestamp("us"), mask=dropoff_null))


def _distance(rng, n):
    d = np.round(np.clip(rng.lognormal(np.log(2.2), 0.8, n), 0.1, 60), 2)
    cls = rng.random(n)
    d = np.select(
        [cls < 0.003, cls < 0.005, cls < 0.007, cls < 0.008, cls < 0.009,
         cls < 0.010],
        [0.0, 0.01, -1.5, 500.0, 499.99, 1200.0], d)
    null = (cls >= 0.010) & (cls < 0.015)
    return d, null


def _fare(rng, d):
    n = len(d)
    f = np.round(3.0 + 2.5 * np.abs(d) + rng.normal(0, 1.5, n).clip(-2, 8), 2)
    cls = rng.random(n)
    f = np.select([cls < 0.002, cls < 0.003, cls < 0.005],
                  [-0.01, -5.0, 0.0], f)
    null = (cls >= 0.005) & (cls < 0.008)
    return f, null


def _money(rng, n, lo, hi, step=0.5):
    return np.round(rng.integers(int(lo / step), int(hi / step) + 1, n) * step, 2)


def _pick(values, idx):
    """String column from an index array (one C++ take, no Python strings)."""
    return pa.array(values).take(pa.array(idx))


def _flags(rng, n, p_yes=0.05):
    return _pick(["N", "Y"], (rng.random(n) < p_yes).astype(np.int8))


def _bases(rng, n, lo):
    return _pick([f"B0{b}" for b in range(lo, lo + 100)], rng.integers(0, 100, n))


def _table(rng, cab, n, y, m, perm, zipf_cdf):
    pu_ts, do_ts = _timestamps(rng, n, y, m)
    pu = _zones(rng, n, perm, zipf_cdf)
    do = _zones(rng, n, perm, zipf_cdf)
    if cab == "fhv":
        zmask = rng.random(n) < 0.1
        return pa.table({
            "dispatching_base_num": _bases(rng, n, 1000),
            "pickup_datetime": pu_ts,
            "dropOff_datetime": do_ts,
            "PUlocationID": pa.array(pu.astype(np.float64), mask=zmask),
            "DOlocationID": pa.array(do.astype(np.float64),
                                     mask=rng.random(n) < 0.1),
            "SR_Flag": pa.array(np.ones(n, np.int32), mask=rng.random(n) < 0.9),
            "Affiliated_base_number": _bases(rng, n, 1000),
        })
    d, dnull = _distance(rng, n)
    f, fnull = _fare(rng, d)
    if cab == "fhvhv":
        tolls = np.where(rng.random(n) < 0.1, 6.55, 0.0)
        bcf = np.round(np.abs(f) * 0.025, 2)
        tax = np.round(np.abs(f) * 0.08875, 2)
        cong = np.where(rng.random(n) < 0.7, 2.75, 0.0)
        airport = pa.array(np.where(rng.random(n) < 0.05, 2.5, 0.0),
                           mask=rng.random(n) < 0.02)
        tips = np.where(rng.random(n) < 0.2, _money(rng, n, 1, 10), 0.0)
        return pa.table({
            "hvfhs_license_num": _pick(["HV0003", "HV0004", "HV0005"],
                                       rng.integers(0, 3, n)),
            "dispatching_base_num": _bases(rng, n, 2000),
            "originating_base_num": _bases(rng, n, 2000),
            "request_datetime": pu_ts,
            "on_scene_datetime": pu_ts,
            "pickup_datetime": pu_ts,
            "dropoff_datetime": do_ts,
            "PULocationID": pu,
            "DOLocationID": do,
            "trip_miles": pa.array(d, mask=dnull),
            "trip_time": rng.integers(60, 7200, n),
            "base_passenger_fare": pa.array(f, mask=fnull),
            "tolls": tolls, "bcf": bcf, "sales_tax": tax,
            "congestion_surcharge": cong, "airport_fee": airport, "tips": tips,
            "driver_pay": np.round(np.abs(f) * 0.7, 2),
            "shared_request_flag": _flags(rng, n),
            "shared_match_flag": _flags(rng, n),
            "access_a_ride_flag": _flags(rng, n, 0.01),
            "wav_request_flag": _flags(rng, n, 0.02),
            "wav_match_flag": _flags(rng, n, 0.02),
        })
    extra = _money(rng, n, 0, 3)
    mta = np.full(n, 0.5)
    tip = np.where(rng.random(n) < 0.6, np.round(np.abs(f) * 0.2, 2), 0.0)
    tolls = np.where(rng.random(n) < 0.05, 6.55, 0.0)
    imp = np.full(n, 1.0)
    cong = np.where(rng.random(n) < 0.8, 2.5, 0.0)
    total = np.round(f + extra + mta + tip + tolls + imp + cong, 2)
    prefix = "tpep" if cab == "yellow" else "lpep"
    cols = {
        "VendorID": rng.integers(1, 3, n).astype(np.int32),
        f"{prefix}_pickup_datetime": pu_ts,
        f"{prefix}_dropoff_datetime": do_ts,
        "passenger_count": pa.array(rng.integers(1, 7, n),
                                    mask=rng.random(n) < 0.02),
        "trip_distance": pa.array(d, mask=dnull),
        "RatecodeID": rng.integers(1, 7, n).astype(np.float64),
        "store_and_fwd_flag": _flags(rng, n, 0.01),
        "PULocationID": pu,
        "DOLocationID": do,
        "payment_type": rng.integers(1, 5, n),
        "fare_amount": pa.array(f, mask=fnull),
        "extra": extra, "mta_tax": mta, "tip_amount": tip,
        "tolls_amount": tolls, "improvement_surcharge": imp,
        "total_amount": total, "congestion_surcharge": cong,
    }
    if cab == "yellow":
        cols["airport_fee"] = np.where(rng.random(n) < 0.05, 1.75, 0.0)
    else:
        cols["ehail_fee"] = pa.array(np.zeros(n), mask=np.ones(n, bool))
        cols["trip_type"] = rng.integers(1, 3, n).astype(np.float64)
    return pa.table(cols)


def write_zones(rng, path):
    """``taxi_zone_lookup.csv`` twin: LocationID -> Borough/Zone/service_zone."""
    boro = rng.integers(0, len(BOROUGHS), N_ZONES)
    boro[0] = 0  # zone 1 is EWR, as in the real lookup
    with open(path, "w") as f:
        f.write("LocationID,Borough,Zone,service_zone\n")
        for i in range(N_ZONES):
            b = BOROUGHS[boro[i]]
            f.write(f"{i + 1},{b},Zone {i + 1},"
                    f"{'EWR' if b == 'EWR' else 'Boro Zone'}\n")


def generate(seed, out, rows, months=MONTHS):
    """Write the raw drop for ``seed`` over ``months``; returns
    {"rows", "bytes", "files"}."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(N_ZONES) + 1
    zipf = 1.0 / np.arange(1, N_ZONES + 1) ** 1.1
    zipf_cdf = np.cumsum(zipf) / zipf.sum()
    # a mild yearly cycle (spring high, late-summer low)
    season = np.array([1.0 + 0.1 * np.sin((m - 1) * np.pi / 6) for _, m in months])
    season /= season.sum()
    total_rows = total_bytes = files = 0
    for cab in CABS:
        os.makedirs(os.path.join(out, cab), exist_ok=True)
        for (y, m), share in zip(months, season):
            n = max(1, int(rows * CAB_SHARE[cab] * share))
            path = os.path.join(out, cab, f"{cab}_tripdata_{y:04d}-{m:02d}.parquet")
            pq.write_table(_table(rng, cab, n, y, m, perm, zipf_cdf), path)
            total_rows += n
            total_bytes += os.path.getsize(path)
            files += 1
    write_zones(rng, os.path.join(out, "taxi_zone_lookup.csv"))
    return {"rows": total_rows, "bytes": total_bytes, "files": files}

