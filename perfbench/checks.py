"""Output checks of the workloads.

Each check returns a list of (name, ok, detail). A check fails on any
wrong output; run.py counts every failed check as a failed operation
and exits non-zero.

  query_mix   tools/check.py passes every query: its rows equal DuckDB
              running the query's oracle SQL on the same parquet;
  CMAPSS      the variable sensors are exactly the generated ones,
              cycles_features and units_summary equal DuckDB SQL over
              the generated text, and the test RMSE is under a bound
              derived from the generator's noise;
  corpus      the batch flow and the streaming twin wrote equal tables
              at every shared stage, and dedup dropped exactly the
              injected exact duplicates.
"""
import glob
import json
import os
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

# Allowed test RMSE over the generator's best linear RMSE (rmse_floor):
# the model is fit on a finite sample and predictions are clamped at 0.
RMSE_SLACK = 1.25
FEATURE_RTOL = 1e-9
# The repository's own oracle comparison: columns sorted by name, floats
# rounded to 9 places, -0.0 as 0.0, rows sorted, exact compare.
CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")


def query_mix(wh_dir, out_dir, oracle):
    """Run tools/check.py on out_dir, which holds <name>/*.parquet per
    query; oracle maps query name -> DuckDB SQL. A query passes only on
    its own `ok` line."""
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as fh:
        json.dump(oracle, fh)
    p = subprocess.run([sys.executable, CHECK_PY, wh_dir, out_dir], capture_output=True,
                       text=True, stdin=subprocess.DEVNULL, timeout=120)
    lines = p.stdout.splitlines()
    res = []
    for name in sorted(oracle):
        ok = [ln for ln in lines if ln.startswith(f"ok   {name} (")]
        bad = [ln for ln in lines if ln.startswith(f"FAIL {name}:")]
        warn = [ln for ln in lines if ln.startswith(f"WARN {name}:")]
        if ok and not bad:
            res.append((name, True, " ".join([ok[0][5 + len(name):].strip()] + warn)))
        else:
            detail = bad[0] if bad else (p.stderr.strip().splitlines() or ["no result"])[-1]
            res.append((name, False, detail))
    return res


def _cmapss_raw(cmapss_dir, datasets):
    frames = []
    for d in datasets:
        a = np.loadtxt(os.path.join(cmapss_dir, f"train_{d}.txt"), ndmin=2)
        f = pd.DataFrame(a[:, 5:], columns=[f"sensor{i}" for i in range(1, a.shape[1] - 4)])
        f.insert(0, "setting3", a[:, 4])
        f.insert(0, "setting2", a[:, 3])
        f.insert(0, "setting1", a[:, 2])
        f.insert(0, "time_cycles", a[:, 1].astype(np.int32))
        f.insert(0, "unit_nr", a[:, 0].astype(np.int32))
        f.insert(0, "dataset", d)
        frames.append(f)
    return pd.concat(frames, ignore_index=True)


def features_sql(sensors, windows=(5, 20)):
    """DuckDB twin of graft.pipeline.FeatureEngineering.features."""
    wp = "PARTITION BY dataset, unit_nr"
    wo = f"{wp} ORDER BY time_cycles"
    cols = ["dataset", "unit_nr", "time_cycles", "setting1", "setting2",
            "setting3"] + sensors
    cols.append(f"max(time_cycles) OVER ({wp}) - time_cycles AS rul")
    for w in windows:
        cols += [f"avg({s}) OVER ({wo} ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW)"
                 f" AS mean{w}_{s}" for s in sensors]
    cols += [f"{s} - lag({s}) OVER ({wo}) AS d_{s}" for s in sensors]
    cols += [f"CASE WHEN stddev_pop({s}) OVER ({wp}) <> 0 THEN ({s} - avg({s}) OVER ({wp}))"
             f" / stddev_pop({s}) OVER ({wp}) END AS z_{s}" for s in sensors]
    return f"SELECT {', '.join(cols)} FROM raw"


UNITS_SQL = ("SELECT dataset, unit_nr, min(time_cycles) AS cycles_min, "
             "max(time_cycles) AS cycles_max, count(*) AS cycles_count "
             "FROM raw GROUP BY dataset, unit_nr")


def _frame_equal(name, got, exp, keys):
    if sorted(got.columns) != sorted(exp.columns):
        return (name, False, f"columns {sorted(got.columns)} != {sorted(exp.columns)}")
    if len(got) != len(exp):
        return (name, False, f"{len(got)} rows != {len(exp)}")
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)[got.columns]
    for c in got.columns:
        a, b = got[c].to_numpy(), exp[c].to_numpy()
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            a, b = a.astype(float), b.astype(float)
            same = np.isclose(a, b, rtol=FEATURE_RTOL, atol=FEATURE_RTOL) | (np.isnan(a) & np.isnan(b))
        else:
            same = a.astype(str) == b.astype(str)
        if not same.all():
            i = int(np.flatnonzero(~same)[0])
            return (name, False, f"column {c} row {i}: {a[i]} != {b[i]}")
    return (name, True, f"{len(got)} rows")


def _read_table(path):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true)").df()


def cmapss_etl(cmapss_dir, wh_dir, gen, sensors, rmse):
    res = []
    want = [f"sensor{j}" for j in range(1, 22) if j not in gen["constant_sensors"]]
    res.append(("variable_sensors", sensors == want,
                f"found {len(sensors)}, generated {len(want)} variable"))
    raw = _cmapss_raw(cmapss_dir, gen["datasets"])
    con = duckdb.connect()
    con.register("raw", raw)
    try:
        exp = con.execute(features_sql(want)).df()
        got = _read_table(f"{wh_dir}/cycles_features")
        res.append(_frame_equal("cycles_features", got, exp,
                                ["dataset", "unit_nr", "time_cycles"]))
        exp = con.execute(UNITS_SQL).df()
        got = _read_table(f"{wh_dir}/units_summary")
        res.append(_frame_equal("units_summary", got, exp, ["dataset", "unit_nr"]))
    except Exception as ex:
        res.append(("warehouse", False, f"error: {ex}"))
    bound = RMSE_SLACK * gen["rmse_floor"]
    res.append(("test_rmse", rmse is not None and rmse < bound,
                f"rmse {rmse} (bound {bound:.3f})"))
    return res


SHARED = ["unique/documents.parquet", "linededup/documents.parquet",
          "splits/assignments.parquet", "screened/documents.parquet",
          "packed/sequences.parquet"]


def corpus_flow(batch_wh, stream_wh, injected_exact):
    res = []
    con = duckdb.connect()
    for t in SHARED:
        try:
            a = f"read_parquet('{batch_wh}/{t}/*.parquet')"
            b = f"read_parquet('{stream_wh}/{t}/*.parquet')"
            n_a, n_b = (con.execute(f"SELECT count(*) FROM {x}").fetchone()[0] for x in (a, b))
            diff = con.execute(
                f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
                f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchone()[0]
            res.append((f"batch_eq_stream:{t.split('/')[0]}", n_a == n_b and diff == 0 and n_a > 0,
                        f"{n_a} vs {n_b} rows, {diff} differ"))
        except Exception as ex:
            res.append((f"batch_eq_stream:{t.split('/')[0]}", False, f"error: {ex}"))
    try:
        ids = lambda stage: {r[0] for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{batch_wh}/{stage}/documents.parquet/*.parquet')"
        ).fetchall()}
        curated, unique = ids("curated"), ids("unique")
        dropped = curated - unique
        expected = set(injected_exact) & curated
        res.append(("dedup_drops_injected", dropped == expected and not (unique - curated),
                    f"dropped {len(dropped)}, injected in curated {len(expected)}"))
    except Exception as ex:
        res.append(("dedup_drops_injected", False, f"error: {ex}"))
    return res


def tree_bytes(path):
    return sum(os.path.getsize(f) for f in glob.glob(f"{path}/**", recursive=True)
               if os.path.isfile(f))


def tree_files(path, suffix=".parquet"):
    return sum(1 for f in glob.glob(f"{path}/**/*{suffix}", recursive=True) if os.path.isfile(f))
