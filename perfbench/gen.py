"""Inputs for the benchmark, made with the repo's own fixture generator.

``scripts/make_testdata.py`` ``make_sf`` writes the TPC-H-like table set the
tests and ``bench.py`` read. It is deterministic, so it runs once per
checkout, into ``<work>/base/sf<scale>``. Each seed then gets
``<work>/seed-<n>/data`` holding:

- ``lineitem.parquet``: the sf0.1 lineitem table (600,000 rows), with
  ``l_returnflag`` redrawn from the seed. It is drawn as ``make_sf`` draws
  it, uniformly over R/A/N and independent of the row, so the table keeps
  sf0.1's make-up. The GLM label ``l_returnflag = 'R'`` then has a known
  true model: zero coefficients on the four features and an intercept of
  log(1/2), in ``TRUE_BETA`` (intercept last).
- ``documents.parquet``: the sf0.01 documents table, 5,000 documents with
  ``make_sf``'s mix (zipfian English, a non-English slice, planted
  near-duplicates). It is the same for every seed. sf0.1's 50,000 documents
  do not fit a run: DuckDB's oracles for the curation queries take about
  85 s on the 5,000 documents alone.

The same seed always gives the same tables. Usage:

    python3 perfbench/gen.py --seed 7 [--work .bench_work] [--force]
"""

from __future__ import annotations

import argparse
import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_SF = "sf0.1"
DOCUMENTS_SF = "sf0.01"
# logit(P(l_returnflag = 'R')) = f . TRUE_BETA[:4] + TRUE_BETA[4]
TRUE_BETA = np.array([0.0, 0.0, 0.0, 0.0, np.log(0.5)])


def features_of(li: pa.Table) -> np.ndarray:
    """The package's four GLM features, computed with the same float ops."""
    return np.column_stack([
        li["l_quantity"].to_numpy() * 1.0,
        li["l_extendedprice"].to_numpy() / 1e4,
        li["l_discount"].to_numpy() * 10.0,
        li["l_tax"].to_numpy() * 10.0,
    ])


def _make_testdata():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "scripts", "make_testdata.py")
    spec = importlib.util.spec_from_file_location("make_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def base_tables(work: str) -> str:
    """The repo generator's tables at both scales (once per work dir)."""
    base = os.path.join(work, "base")
    done = os.path.join(base, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        make_sf = _make_testdata().make_sf
        for sf in {LINEITEM_SF, DOCUMENTS_SF}:
            make_sf(os.path.join(base, sf), float(sf.removeprefix("sf")))
        open(done, "w").close()
    return base


def seed_dir(work: str, seed: int) -> str:
    return os.path.join(work, f"seed-{seed}")


def generate(work: str, seed: int, force: bool = False) -> str:
    """Write the seed's tables (once) and return their directory."""
    out = os.path.join(seed_dir(work, seed), "data")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done) and not force:
        return out
    base = base_tables(work)
    shutil.rmtree(seed_dir(work, seed), ignore_errors=True)
    os.makedirs(out)
    li = pq.read_table(os.path.join(base, LINEITEM_SF, "lineitem.parquet"))
    rng = np.random.default_rng(np.random.SeedSequence(seed))
    flag = np.asarray(["R", "A", "N"])[rng.integers(0, 3, li.num_rows)]
    i = li.schema.get_field_index("l_returnflag")
    li = li.set_column(i, "l_returnflag", pa.array(flag))
    pq.write_table(li, os.path.join(out, "lineitem.parquet"))
    shutil.copyfile(os.path.join(base, DOCUMENTS_SF, "documents.parquet"),
                    os.path.join(out, "documents.parquet"))
    open(done, "w").close()
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=".bench_work")
    ap.add_argument("--force", action="store_true", help="regenerate")
    a = ap.parse_args()
    print(generate(a.work, a.seed, force=a.force))
