"""Seeded generator of CMAPSS-shaped turbofan run-to-failure text.

For each dataset (FD001..FD004 by default) it writes, in the NASA C-MAPSS layout
(headerless, whitespace-separated, 26 positional columns: unit, cycle,
3 operating settings, 21 sensors, two trailing blanks):

  train_FD00k.txt  every unit from cycle 1 to its failure cycle;
  test_FD00k.txt   every unit truncated before failure;
  RUL_FD00k.txt    one line per test unit: its remaining cycles.

Sensors in CONSTANT_SENSORS hold one value per dataset. Every other
sensor is linear in the remaining useful life (RUL) plus Gaussian noise:

  sensor_j = base_j + slope_j * RUL + N(0, sigma_j^2)

so the least RMSE any predictor of RUL from one cycle's sensors can
reach is `rmse_floor()`; the benchmark's model check is derived from it.

The same (seed, scale) always produces byte-identical files.

Usage: python3 gen_cmapss.py <out_dir> <seed> [units_per_dataset]
"""
import json
import os
import sys

import numpy as np

DATASETS = ["FD001", "FD002", "FD003", "FD004"]
N_SENSORS = 21
CONSTANT_SENSORS = (1, 5, 10, 16, 18, 19)
LIFE_RANGE = (128, 288)   # failure cycle of a unit, uniform
RUL_NOISE = 40.0          # sigma_j / |slope_j|, in cycles, per sensor


def variable_sensors():
    return [j for j in range(1, N_SENSORS + 1) if j not in CONSTANT_SENSORS]


def rmse_floor():
    """RMSE of the best linear estimate of RUL from one cycle's sensors:
    each variable sensor is an independent RUL reading with noise
    RUL_NOISE, so the pooled estimate has noise RUL_NOISE / sqrt(k)."""
    return RUL_NOISE / np.sqrt(len(variable_sensors()))


# unit, cycle, then 24 values; C-MAPSS lines end in two blanks.
LINE = "%d %d " + " ".join(["%.4f"] * 24) + "  \n"


def _fmt(rows):
    """Rows of [unit, cycle, settings..., sensors...] as C-MAPSS text."""
    return "".join([LINE % tuple(r) for r in rows.tolist()])


def _engine(rng):
    """One engine model shared by all datasets: sensor baselines, RUL
    slopes and noise levels."""
    base = rng.uniform(5.0, 600.0, N_SENSORS)
    slope = rng.uniform(0.002, 0.05, N_SENSORS) * rng.choice([-1.0, 1.0], N_SENSORS)
    return base, slope, np.abs(slope) * RUL_NOISE


def _dataset(rng, units, engine):
    base, slope, sigma = engine
    const = np.array([j + 1 in CONSTANT_SENSORS for j in range(N_SENSORS)])
    train, test, rul = [], [], []
    for u in range(1, units + 1):
        life = int(rng.integers(LIFE_RANGE[0], LIFE_RANGE[1] + 1))
        cycles = np.arange(1, life + 1)
        r = (life - cycles).astype(np.float64)
        sens = base + np.outer(r, slope) + rng.normal(0.0, 1.0, (life, N_SENSORS)) * sigma
        sens[:, const] = base[const]
        settings = np.column_stack([
            rng.normal(0.0, 0.002, life), rng.normal(0.0, 0.0003, life),
            np.full(life, 100.0)])
        rows = np.column_stack([np.full(life, u), cycles, settings, sens])
        train.append(rows)
        cut = int(rng.integers(life // 4, life - 10))
        test.append(rows[:cut])
        rul.append(life - cut)
    return train, test, rul


def build(out_dir, seed, units=25, datasets=DATASETS):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 7002])
    rows = 0
    engine = _engine(rng)
    for name in datasets:
        train, test, rul = _dataset(rng, units, engine)
        with open(os.path.join(out_dir, f"train_{name}.txt"), "w") as f:
            for t in train:
                f.write(_fmt(t))
        with open(os.path.join(out_dir, f"test_{name}.txt"), "w") as f:
            for t in test:
                f.write(_fmt(t))
        with open(os.path.join(out_dir, f"RUL_{name}.txt"), "w") as f:
            f.write("".join(f"{r}\n" for r in rul))
        rows += sum(len(t) for t in train)
    return {"datasets": list(datasets), "units_per_dataset": units,
            "train_rows": rows, "constant_sensors": list(CONSTANT_SENSORS),
            "rmse_floor": float(rmse_floor())}


if __name__ == "__main__":
    info = build(sys.argv[1], int(sys.argv[2]),
                 int(sys.argv[3]) if len(sys.argv) > 3 else 25)
    print(json.dumps(info))
