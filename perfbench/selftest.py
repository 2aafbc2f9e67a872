"""Fast self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

Run from the root of a checkout; exits non-zero on the first failed check.
It shows that
  1. each generator is deterministic at a fixed seed (byte-identical
     files) and that another seed changes the values;
  2. every metric BENCHMARK.json declares is emitted, with its unit, for
     every workload (one traced measurement each, in one session);
  3. a corrupted expected digest raises failed_share above 0.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

TINY = {
    "STAR_ROWS_PER_MONTH": 2_000, "STAR_CITIES": 60, "TPCH_COPIES": 2,
    "TPCH_ORDERS": 1_500, "CORPUS_DOCS": 200, "ANN_VECTORS": 200,
}


def check(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def same_files(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    files = [os.path.relpath(os.path.join(d, f), a)
             for d, _, fs in os.walk(a) for f in fs]
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors)


def main() -> None:
    base = os.path.join(run.CACHE, f"selftest-{os.getpid()}")
    run_dir = os.path.join(base, "run")
    run.prepare(run_dir)
    for k, v in TINY.items():
        setattr(gen, k, v)
    try:
        import workloads

        data = {}
        for w in workloads.WORKLOADS:
            a, b, c = (os.path.join(base, f"{w}-{t}") for t in "abc")
            manifest = gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            check(same_files(a, b), f"{w}: seed 7 twice gives byte-identical files")
            rows = {t: v["rows"] for t, v in manifest.items()}
            check(not same_files(a, c)
                  and {t: v["rows"] for t, v in gen.manifest(c).items()} == rows,
                  f"{w}: seed 8 changes the values, not the sizes")
            data[w] = (a, manifest)

        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        from spans import unit

        spark, catalog, start_s, setup = run.start_session()
        for w in workloads.WORKLOADS:
            res = run.measure(spark, catalog, w, *data[w], run_dir, 0, True)
            e2e = {**res["e2e"], "setup_s": (setup, "s")}
            for m in bench["end_to_end"]:
                check(m["name"] in e2e and e2e[m["name"]][1] == m["unit"],
                      f"{w}: end-to-end {m['name']} emitted in {m['unit']}")
            layer = {**res["layer"], "session.start_s": start_s}
            missing = [m["name"] for m in bench["per_layer"]
                       if m["name"] not in layer or unit(m["name"]) != m["unit"]]
            check(not missing, f"{w}: all {len(bench['per_layer'])} per-layer metrics "
                  f"emitted with their units {missing or ''}")
            check(res["record"]["failed"] == 0, f"{w}: every row correct "
                  f"{res['record']['failures'] or ''}")

        real = workloads.oracle_digests

        def corrupted(*a):
            digests, truth = real(*a)
            return {k: "0" * 64 for k in digests}, truth

        workloads.oracle_digests = corrupted
        res = run.measure(spark, catalog, "catalog_mix", *data["catalog_mix"], run_dir, 0,
                          False)
        workloads.oracle_digests = real
        check(res["record"]["failed_share"] > 0,
              f"corrupted expected digests give failed_share "
              f"{res['record']['failed_share']:.2f} > 0")
        run.stop_session(spark)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
