"""Independent references and output checks for the benchmark.

The taxi reference is DuckDB over the generated raw files: each cab
schema is mapped to the canonical columns by hand, then the ``Cleaning``
predicates and derived columns are applied in SQL (the same rules the
``x5`` / ``x11`` oracles of ``SparkEntry.oracleSql`` encode). Partial
aggregates per (year, month) are kept, and each analytics request's
expected answer is assembled from them. The corpus reference is the
ground truth the generator planted.
"""
import json
import os

import duckdb

CANON = {
    "yellow": """SELECT 'yellow' AS cab_type, tpep_pickup_datetime AS pickup_ts,
        tpep_dropoff_datetime AS dropoff_ts, PULocationID::INT AS pu_zone,
        DOLocationID::INT AS do_zone, trip_distance::DOUBLE AS distance_mi,
        fare_amount::DOUBLE AS fare, tip_amount::DOUBLE AS tip,
        total_amount::DOUBLE AS total FROM read_parquet('{raw}/yellow/*.parquet')""",
    "green": """SELECT 'green', lpep_pickup_datetime, lpep_dropoff_datetime,
        PULocationID::INT, DOLocationID::INT, trip_distance::DOUBLE,
        fare_amount::DOUBLE, tip_amount::DOUBLE, total_amount::DOUBLE
        FROM read_parquet('{raw}/green/*.parquet')""",
    "fhv": """SELECT 'fhv', pickup_datetime, dropOff_datetime, PUlocationID::INT,
        DOlocationID::INT, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE, NULL::DOUBLE
        FROM read_parquet('{raw}/fhv/*.parquet')""",
    # no total_amount: the sum of the fare components present, NULL -> 0
    "fhvhv": """SELECT 'fhvhv', pickup_datetime, dropoff_datetime,
        PULocationID::INT, DOLocationID::INT, trip_miles::DOUBLE,
        base_passenger_fare::DOUBLE, tips::DOUBLE,
        coalesce(base_passenger_fare, 0.0) + coalesce(tolls, 0.0)
          + coalesce(bcf, 0.0) + coalesce(sales_tax, 0.0)
          + coalesce(congestion_surcharge, 0.0) + coalesce(airport_fee, 0.0)
          + coalesce(tips, 0.0)
        FROM read_parquet('{raw}/fhvhv/*.parquet')""",
}

CLEANED = """
CREATE OR REPLACE TABLE cl AS
WITH canon AS ({union}),
d AS (SELECT *, date_diff('second', pickup_ts, dropoff_ts) / 60.0 AS duration_min
      FROM canon)
SELECT *, hour(pickup_ts) AS pickup_hour, strftime(pickup_ts, '%a') AS pickup_dow,
  year(pickup_ts) AS y, month(pickup_ts) AS m, strftime(pickup_ts, '%Y-%m') AS ym,
  CASE WHEN duration_min > 0 THEN distance_mi / (duration_min / 60.0) END AS avg_speed_mph,
  CASE WHEN distance_mi > 0 THEN fare / distance_mi END AS fare_per_mile
FROM d
WHERE pickup_ts IS NOT NULL AND dropoff_ts IS NOT NULL AND dropoff_ts > pickup_ts
  AND duration_min > 0.5 AND duration_min < 1440
  AND (distance_mi IS NULL OR (distance_mi > 0 AND distance_mi < 500))
  AND (fare IS NULL OR fare >= 0)
"""

# per (cab, year, month) fingerprint of a curated tree
ETL_AGG = """SELECT {cab} AS cab, {y} AS y, {m} AS m, count(*) AS n,
  sum(total) AS total, sum(distance_mi) AS dist, count(fare) AS n_fare,
  sum(fare) AS fare, sum(fare_per_mile) AS fpm, sum(avg_speed_mph) AS speed,
  sum(duration_min) AS dur, count(pu_zone) AS n_pu, sum(pu_zone) AS pu,
  sum(do_zone) AS do_, sum(pickup_hour) AS hr, count(DISTINCT pickup_dow) AS dows,
  min(epoch(pickup_ts)) AS ts_min, max(epoch(dropoff_ts)) AS ts_max
FROM {src} GROUP BY ALL"""

CURATED_COLUMNS = {
    "cab_type", "pickup_ts", "dropoff_ts", "pu_zone", "do_zone", "distance_mi",
    "fare", "tip", "total", "duration_min", "pickup_date", "pickup_hour",
    "pickup_dow", "pickup_year", "pickup_month", "pickup_ym", "avg_speed_mph",
    "fare_per_mile"}


def close(a, b, rel=1e-9, abs_=0.0):
    """Numeric equality up to summation order (and `abs_` for rounded values)."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    return abs(a - b) <= max(abs_, rel * max(1.0, abs(a), abs(b)))


def _con():
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def taxi_reference(raw, zones_csv):
    """Expected per-(cab, year, month) fingerprints and the partial
    aggregates analytics answers are assembled from."""
    con = _con()
    union = " UNION ALL ".join(CANON[c].format(raw=raw) for c in CANON)
    con.execute(CLEANED.format(union=union))
    ref = {"etl": {}, "per_cab": {}}
    for r in con.execute(ETL_AGG.format(cab="cab_type", y="y", m="m", src="cl")).fetchall():
        ref["etl"][f"{r[0]}|{r[1]}|{r[2]}"] = list(r[3:])
    for cab, n in con.execute("SELECT cab_type, count(*) FROM cl GROUP BY 1").fetchall():
        ref["per_cab"][cab] = n
    con.execute(f"""CREATE TABLE zones AS SELECT * FROM read_csv('{zones_csv}',
        header = true, columns = {{'LocationID': 'INT', 'Borough': 'VARCHAR',
        'Zone': 'VARCHAR', 'service_zone': 'VARCHAR'}})""")
    parts = {
        "hour": "SELECT y, m, pickup_hour, count(*), sum(fare_per_mile), count(fare_per_mile) FROM cl GROUP BY ALL",
        "dow": "SELECT y, m, pickup_dow, count(*) FROM cl GROUP BY ALL",
        "pu": "SELECT y, m, pu_zone, count(*) FROM cl GROUP BY ALL",
        "do": "SELECT y, m, do_zone, count(*) FROM cl GROUP BY ALL",
        "ym": "SELECT y, m, ym, count(*), sum(fare), count(fare) FROM cl GROUP BY ALL",
        "boro": """SELECT y, m, Borough, count(*), sum(coalesce(fare, 0.0)),
            sum(distance_mi), count(distance_mi)
            FROM cl JOIN zones ON cl.pu_zone = zones.LocationID GROUP BY ALL""",
    }
    ref["parts"] = {k: con.execute(q).fetchall() for k, q in parts.items()}
    con.close()
    return ref


def _in_range(y, m, req):
    kind, year, m_from, m_to = req
    return year == 0 or (y == year and m_from <= m <= m_to)


def _acc(rows, req, width):
    out = {}
    for r in rows:
        if _in_range(r[0], r[1], req):
            a = out.setdefault(r[2], [0] * width)
            for j in range(width):
                v = r[3 + j]
                a[j] += 0 if v is None else v
    return out


def expected_answer(parts, req):
    """Rows a request must return, in the order the query orders them."""
    kind = req[0]
    if kind == "hourly_fare":
        acc = _acc(parts["hour"], req, 3)
        return [[h, (s / c if c else None), n] for h, (n, s, c) in sorted(acc.items())]
    if kind == "trips_by_dow":
        return [[d, n] for d, (n,) in sorted(_acc(parts["dow"], req, 1).items())]
    if kind in ("busiest_pickup", "busiest_dropoff"):
        acc = _acc(parts["pu" if kind == "busiest_pickup" else "do"], req, 1)
        # count desc, zone asc with NULL first
        rows = sorted(acc.items(), key=lambda kv: (-kv[1][0], kv[0] is not None, kv[0] or 0))
        return [[z, n] for z, (n,) in rows[:100]]
    if kind == "monthly_trend":
        acc = sorted(_acc(parts["ym"], req, 3).items())
        if not acc:
            return []
        base = acc[0][1][0]
        return [[ym, n, (s / c if c else None), n * 100.0 / base] for ym, (n, s, c) in acc]
    if kind == "zone_borough_join":
        acc = _acc(parts["boro"], req, 4)
        return [[b, n, f, (d / c if c else None)] for b, (n, f, d, c) in sorted(acc.items())]
    raise ValueError(kind)


# decimals each request kind rounds its columns to (None = not rounded)
ROUNDING = {
    "hourly_fare": [None, None, None], "trips_by_dow": [None, None],
    "busiest_pickup": [None, None], "busiest_dropoff": [None, None],
    "monthly_trend": [None, None, 4, 4], "zone_borough_join": [None, None, 2, 4],
}


def answer_matches(kind, got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b, dec in zip(g, w, ROUNDING[kind]):
            # a rounded value may differ by one unit in its last place
            if not close(a, b, abs_=(1.0001 * 10 ** -dec) if dec else 0.0):
                return False
    return True


def check_curated(tree, ref, counts=None, manifest=None):
    """Problems with one curated tree (empty list = correct)."""
    problems = []
    con = _con()
    src = f"read_parquet('{tree}/**/*.parquet', hive_partitioning = true)"
    cols = {r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    if cols != CURATED_COLUMNS:
        problems.append(f"columns differ: {sorted(cols ^ CURATED_COLUMNS)}")
    got = {f"{r[0]}|{r[1]}|{r[2]}": list(r[3:]) for r in con.execute(ETL_AGG.format(
        cab="cab_type", y="pickup_year", m="pickup_month", src=src)).fetchall()}
    con.close()
    want = ref["etl"]
    if set(got) != set(want):
        problems.append(f"partitions differ: {sorted(set(got) ^ set(want))[:5]}")
    for k in set(got) & set(want):
        if not all(close(a, b) for a, b in zip(got[k], want[k])):
            problems.append(f"partition {k}: {got[k]} != {want[k]}")
            break
    if counts is not None and counts != ref["per_cab"]:
        problems.append(f"returned counts {counts} != {ref['per_cab']}")
    if manifest is not None:
        rows = {e["type"]: e for e in manifest}
        if set(rows) != set(ref["per_cab"]) or any(
                e["error"] is not None or e.get("rows") != ref["per_cab"][t]
                for t, e in rows.items()):
            problems.append(f"manifest entries wrong: {manifest}")
    return problems


def tree_bytes(tree):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(tree)
               for f in fs if f.endswith(".parquet"))


def check_corpus_op(op_dir, truth):
    """(problems, recall) for one corpus operation's dumped output."""
    problems = []
    prepared = {}
    with open(os.path.join(op_dir, "prepared.tsv")) as f:
        for line in f:
            if line.strip():
                i, lang, n = line.rstrip("\n").split("\t")
                prepared[int(i)] = (lang, int(n))
    want = {int(k): v for k, v in truth["prepared"].items()}
    if set(prepared) != set(want):
        problems.append(f"prepared ids differ in {len(set(prepared) ^ set(want))} docs")
    bad = [i for i, (lang, n) in prepared.items() if lang != "en" or want.get(i) != n]
    if bad:
        problems.append(f"{len(bad)} prepared docs with wrong language/token count")
    comp = {}
    with open(os.path.join(op_dir, "components.tsv")) as f:
        for line in f:
            if line.strip():
                i, c = line.split("\t")
                comp[int(i)] = int(c)
    if set(comp) != set(prepared):
        problems.append("component labels do not cover the prepared set")
    # precision: a multi-member component lies inside one planted cluster
    cluster_of = {}
    for c, (seed, members) in enumerate(truth["clusters"]):
        for d in [seed] + members:
            cluster_of[d] = c
    groups = {}
    for i, c in comp.items():
        groups.setdefault(c, []).append(i)
    merged = [g for g in groups.values()
              if len(g) > 1 and len({cluster_of.get(d, ("bg", d)) for d in g}) > 1]
    if merged:
        problems.append(f"{len(merged)} components merge unrelated documents")
    pairs = [(seed, v) for seed, members in truth["clusters"] for v in members]
    found = sum(1 for s, v in pairs if s in comp and comp.get(s) == comp.get(v))
    recall = found / len(pairs) if pairs else 1.0
    if recall < 0.9:
        problems.append(f"near-duplicate recall {recall:.3f} below 0.9")
    kept = os.path.join(op_dir, "kept")
    con = _con()
    n_kept = con.execute(f"SELECT count(*) FROM read_parquet('{kept}/**/*.parquet')").fetchone()[0]
    con.close()
    if n_kept != len(groups):
        problems.append(f"kept corpus has {n_kept} rows, expected one per component ({len(groups)})")
    return problems, recall


def load_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
