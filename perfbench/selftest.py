"""Self-test of the benchmark's output check: a perturbed reference is caught.

    python3 perfbench/selftest.py [--seed N]

For every workload it computes the reference on small inputs, hands the
reference itself to the workload's check as if it were the engine's output
(an Arrow table, or parquet files plus a run report for ``index_write``),
and then checks that output against

* the true reference, which must pass, and
* copies of the reference with one value of one column changed, one per
  column, and a copy with the last row dropped, each of which must fail.

It also checks that a resume which re-executed a batch is flagged. Exit
code 0 means all of that holds; 1 means the check can pass vacuously. It
needs no Spark session: it tests the check, not the engine.
"""

from __future__ import annotations

import argparse
import dataclasses
import os
import sys
import tempfile

ROOT = os.getcwd()


def small_inputs(name: str, seed: int):
    from perfbench.inputs import make

    inp = make(name, seed)
    rows = {"flagship": 200_000, "pip_many_polys": 65_536, "index_write": 65_536}[name]
    return dataclasses.replace(inp, rows=rows)


def as_output(wl, ref, out_dir: str):
    """The reference dressed as the engine's output of one operation."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmgraft.checkpoint import BatchResult, RunReport
    from perfbench.workloads import Op

    if wl.name != "index_write":
        return Op("op", 0.0, pa.table({c: ref[f"ref.{c}"] for c in wl.COLS}))
    pid = ref["ref.point_id"]
    cell = np.zeros(len(pid), dtype=np.int64)
    caption = np.full(len(pid), "", dtype=object)
    at = np.searchsorted(pid, ref["ref.sample_point_id"])
    cell[at] = ref["ref.sample_cell"]
    caption[at] = ref["ref.sample_caption"]
    path = os.path.join(out_dir, "batch=b00000", "part-0.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "point_id": pid, "lat7": ref["ref.lat7"], "lon7": ref["ref.lon7"],
        "caption": pa.array(caption, type=pa.string()), "cell": cell, "tile": ref["ref.tile"],
    }), path)
    n = -(-wl.inp.files // wl.inp.files_per_batch)
    report = RunReport([BatchResult(f"b{i:05d}", False, wl.inp.files_per_batch, 0,
                                    len(pid) if i == 0 else 0, 0.0) for i in range(n)])
    return Op("op", 0.0, report, extra={"files": [path]})


def perturbations(ref):
    """(description, perturbed reference) pairs."""
    keys = sorted(k for k in ref if k.startswith("ref."))
    for k in keys:
        text = ref[k].dtype.kind == "U"
        a = ref[k].astype(object) if text else ref[k].copy()  # fixed-width text would truncate
        i = len(a) // 2
        a[i] = a[i] + "x" if text else a[i] + 1
        yield f"{k}[{i}] changed", {**ref, k: a}
    full = [k for k in keys if not k.startswith("ref.sample_")]
    yield "last row dropped", {**ref, **{k: ref[k][:-1] for k in full}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perturbed-reference self-test")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "osmgraft", "__init__.py")):
        print("selftest: run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from osmgraft.checkpoint import BatchResult, RunReport
    from perfbench.inputs import WORKLOADS
    from perfbench.reference import compute
    from perfbench.workloads import WORKLOAD_CLASSES, Op

    ok = True
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work"), prefix="selftest-") as tmp:
        for name in WORKLOADS:
            inp = small_inputs(name, args.seed)
            ref = compute(inp, threads=2, tmp_dir=os.path.join(tmp, "duckdb"))
            ref = {k: v for k, v in ref.items() if k.startswith("ref.")}
            wl = WORKLOAD_CLASSES[name](inp, 1, os.path.join(tmp, name))
            op = as_output(wl, ref, wl.out_dir if name == "index_write" else tmp)
            passes = wl.check(op, ref)
            missed = [d for d, bad in perturbations(ref) if wl.check(op, bad)]
            total = sum(1 for _ in perturbations(ref))
            if name == "index_write":
                rerun = Op("resume", 0.0, RunReport(
                    [BatchResult("b00000", False, 1, 0, 0, 0.0)] + op.out.batches[1:]))
                if wl.check(rerun, ref):
                    missed.append("resume that re-executed a batch")
                total += 1
            print(f"{name}: true reference {'passes' if passes else 'FAILS'}; "
                  f"{total - len(missed)}/{total} perturbations caught"
                  + (f"; missed: {', '.join(missed)}" if missed else ""))
            ok = ok and passes and not missed
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
