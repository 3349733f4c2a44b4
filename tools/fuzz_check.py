#!/usr/bin/env python3
"""Differential-fuzz checker (round 13): replay each fuzz cell's DuckDB
SQL mirror over the generated parquet inputs and compare against the
Spark result value-exactly, using the SAME canonicalization as the
driver's correctness gate (tools/oracle_check.py).

Usage:
  python3 tools/fuzz_check.py <fuzzDir> [--artifact FUZZ_rN.json]

<fuzzDir> is the output dir of `runMain graft.tools.Fuzz <fuzzDir>`:
  manifest.json          cells: family, seed, tables {view: path}, sql
  out/<family>_s<seed>/  spark result parquet

Writes the artifact (default target/fuzz_check.json, which is not
committed; relative paths are taken from the repo root, so pass
`--artifact FUZZ_rN.json` to write a round artifact there): per-cell
verdicts, per-family rollup, and a summary. Exit 1 on any divergence.
A diverging cell is replayable byte-identically from its (family,
seed) via Fuzz.cellSeed — pin it as a permanent fixture before fixing.
"""
import glob
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import array_cols, canon  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check_cell(cell, fuzz_dir):
    """Returns (ok: bool, detail: str)."""
    name = f"{cell['family']}_s{cell['seed']}"
    out = os.path.join(fuzz_dir, "out", name)
    files = sorted(glob.glob(os.path.join(out, "*.parquet")))
    if not files:
        return False, "no spark output"
    spark_df = pd.concat(pd.read_parquet(f) for f in files)
    con = duckdb.connect()
    try:
        for view, path in sorted(cell["tables"].items()):
            pq = os.path.join(path, "*.parquet")
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{pq}')")
        try:
            duck_df = con.execute(cell["sql"]).df()
        except Exception as e:  # noqa: BLE001
            return False, f"oracle SQL error: {e}"
    finally:
        con.close()
    arr = sorted(set(array_cols(spark_df)) | set(array_cols(duck_df)))
    if arr:
        return False, f"array-typed result column(s) {arr}"
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    kind_bad = [c for c in a.columns if a[c].dtype.kind != b[c].dtype.kind]
    if kind_bad:
        det = [(c, str(a[c].dtype), str(b[c].dtype)) for c in kind_bad]
        return False, f"dtype-kind mismatch {det}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False,
                                      check_exact=True)
        return True, f"{len(a)} rows"
    except AssertionError as e:
        tail = str(e).splitlines()[-1]
        diff = (a != b) & ~(a.isna() & b.isna())
        rows = diff.any(axis=1)
        snippet = (f" spark={a[rows].head(2).to_dict('records')}"
                   f" duck={b[rows].head(2).to_dict('records')}")
        return False, f"value mismatch: {tail};{snippet}"


def main(fuzz_dir, artifact):
    with open(os.path.join(fuzz_dir, "manifest.json")) as f:
        manifest = json.load(f)
    cells = manifest["cells"]
    gen_errors = manifest.get("gen_error_detail", [])
    results, failures = [], []
    fam = {}
    for cell in cells:
        ok, detail = check_cell(cell, fuzz_dir)
        results.append({"family": cell["family"], "seed": cell["seed"],
                        "verdict": "ok" if ok else "fail",
                        **({} if ok else {"detail": detail})})
        f_ = fam.setdefault(cell["family"], {"ok": 0, "fail": []})
        if ok:
            f_["ok"] += 1
        else:
            f_["fail"].append(cell["seed"])
            failures.append(f"{cell['family']}/s{cell['seed']}: {detail}")
            print(f"FAIL {cell['family']}/s{cell['seed']}: {detail}")
    for e in gen_errors:
        failures.append(f"generation: {e}")
        print(f"GEN-ERROR {e}")
    n_ok = sum(1 for r in results if r["verdict"] == "ok")
    summary = {
        "round": artifact,
        "n_families": manifest["n_families"],
        "n_seeds_per_family": manifest["n_seeds"],
        "n_cells": len(cells),
        "n_ok": n_ok,
        "n_fail": len(cells) - n_ok,
        "n_gen_errors": len(gen_errors),
        "families": {k: v for k, v in sorted(fam.items())},
        "failures": failures,
        "results": results,
    }
    path = os.path.join(REPO, artifact)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"{n_ok}/{len(cells)} cells OK across {manifest['n_families']} "
          f"families ({len(gen_errors)} generation errors) -> {artifact}")
    return 0 if (n_ok == len(cells) and not gen_errors) else 1


if __name__ == "__main__":
    argv = sys.argv[1:]
    art = os.path.join("target", "fuzz_check.json")
    if "--artifact" in argv:
        i = argv.index("--artifact")
        art = argv[i + 1]
        del argv[i:i + 2]
    sys.exit(main(argv[0], art))
