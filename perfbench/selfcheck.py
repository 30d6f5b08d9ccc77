#!/usr/bin/env python3
"""Benchmark self-check at tiny scale, from the root of a source checkout:

    python3 perfbench/selfcheck.py

1. Each correctness gate accepts its oracle's own expected output and
   rejects it once the oracle is perturbed (one expected result dropped).
2. ``BENCHMARK.json`` names exactly the metrics and units ``run.py``
   emits, and every registered workload, run at tiny scale with and
   without tracing, prints every named metric with its unit and a correct
   verdict as the last line of its output.
3. Two program paths next to the workloads' own, which the workloads
   avoid because they fail (see README "Found defects"): an N-Quads store
   round-trips the workload's sh:sparql shapes, and ``run_pipeline`` with
   ``incremental=True`` re-runs over a second batch in the same output
   directory.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from collections import namedtuple
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import oracle  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from pyspark.sql import Row  # noqa: E402

FAILURES: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILURES.append(what)


def gate_checks() -> None:
    tiny = W.SCALES["tiny"]

    kg = W.KgBuild(None, 1, tiny, "", None)
    Report = namedtuple("Report", "part_id results_count")

    def output(ids):
        golden = oracle.kg_golden(ids)
        triples = [(s, p, o, part) for (s, p, o), part in golden.items()]
        return triples, [Report(*kv) for kv in oracle.kg_violations(golden).items()]

    b = tiny["batch_pages"]
    start = kg.starts[0]
    expect(kg.gate(0, *output(range(start, start + b))) == [],
           "kg_build gate accepts the golden output")
    # another window with the same triple set, so only the lineage differs
    other = next(s for s in range(start + 300, 10**7, 300) if (s - start) % 4800)
    expect(kg.gate(0, *output(range(other, other + b))) != [],
           "kg_build gate rejects another batch's output")
    out = output(range(start, start + b))
    real = oracle.kg_golden
    oracle.kg_golden = lambda ids: dict(sorted(real(ids).items())[1:])
    try:
        expect(kg.gate(0, *out) != [],
               "kg_build gate rejects a golden set with one triple dropped")
    finally:
        oracle.kg_golden = real

    with tempfile.TemporaryDirectory() as d:
        pv = W.PluginValidate(None, 1, tiny, d, None)
        counts = [
            Row(sourceConstraintComponent=comp, sourceShape=shape or "urn:shape", count=n)
            for (comp, shape), n in pv.expected.items()
        ]

        def report_dir() -> str:
            path = os.path.join(d, "report.nt")
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "part-00000.txt"), "w") as fh:
                fh.writelines(f"<urn:r{j}> {W.SH_RESULT_LINE} .\n"
                              for j in range(sum(pv.expected.values())))
            return path

        expect(pv.check(0, (False, counts, report_dir())) == [],
               "plugin_validate gate accepts the expected counts")
        first = next(iter(pv.expected))
        pv.expected[first] -= 1
        expect(pv.check(0, (False, counts, report_dir())) != [],
               "plugin_validate gate rejects expected counts with one result dropped")



def metric_checks() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expect(e2e == run.END_TO_END, "BENCHMARK.json end_to_end matches run.END_TO_END")
    expect(layer == run.PER_LAYER, "BENCHMARK.json per_layer matches run.PER_LAYER")
    for w in (w["name"] for w in spec["workloads"]):
        for trace, want in ((0, e2e), (1, layer)):
            proc = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", w, "--seed", "1",
                 "--seconds", "1", "--trace", str(trace), "--tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            last = (proc.stdout.strip().splitlines() or [""])[-1]
            try:
                res = json.loads(last)
            except json.JSONDecodeError:
                expect(False, f"{w} trace={trace}: last line is JSON (exit {proc.returncode})")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(proc.returncode == 0 and got == want,
                   f"{w} trace={trace}: every named metric emitted with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace={trace}: tiny run is correct")


def defect_checks() -> None:
    work = HERE / ".work" / f"selfcheck-{os.getpid()}"
    run._env(work)
    import cmem_plugin_pyshacl_spark.plans.pipeline as pl
    import cmem_plugin_pyshacl_spark.sources.io as rdf_io
    from cmem_plugin_pyshacl_spark.data_model import triples_from_rows
    from tracing import Tracer

    spark = run._start_session(2)
    try:
        shapes = triples_from_rows(spark, W._sparql_shapes_rows(), graph=W.SHAPES_G)
        rdf_io.write_rdf(shapes, str(work / "shapes.nq"))
        cols = ["s", "p", "o_kind", "o_value", "o_datatype", "o_lang", "graph"]
        back = rdf_io.read_rdf(spark, str(work / "shapes.nq")).select(cols)
        expect(sorted(back.collect()) == sorted(shapes.select(cols).collect()),
               "an N-Quads store round-trips the sh:sparql shapes")

        kg = W.KgBuild(spark, 1, W.SCALES["tiny"], str(work / "kg"), Tracer(spark, False))
        kg.generate()
        shapes = spark.read.parquet(f"{kg.d}/shapes")
        errs = []
        for i in range(2):
            try:
                res = pl.run_pipeline(spark, spark.read.parquet(f"{kg.d}/pages/batch={i}"),
                                      shapes, out_dir=f"{kg.d}/out", incremental=True)
                errs += kg.gate(i, res.triples.select("s", "p", "o_value", "part_id").collect(),
                               res.reports.collect())
            except Exception as e:
                errs.append(f"op {i}: {type(e).__name__}: {str(e)[:200]}")
        for e in errs:
            print(f"     {e}")
        expect(errs == [], "run_pipeline(incremental=True) re-runs over a second batch "
                           "in the same output directory")
    finally:
        run._stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    gate_checks()
    metric_checks()
    defect_checks()
    print(f"{len(FAILURES)} self-check failure(s)")
    sys.exit(1 if FAILURES else 0)
