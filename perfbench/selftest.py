"""Self-test of the benchmark at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/selftest.py [--seed N]

Checks, for each workload:
  - an untraced run emits every end-to-end metric of BENCHMARK.json, with
    its unit, and passes the oracle check;
  - a traced run emits every per-layer metric of BENCHMARK.json, the spans
    the workload drives have jobs, and its spans cover the timed phase
    wall to within 10%;
  - two traced runs of one seed give identical counts: every span's job
    count, the tombstone rows and live generations; the stored-bytes ratio
    and byte counts agree to a relative 1e-4 (see BYTES_RTOL).
It also checks that `run.py` fails, without printing a result, in a
directory that holds only BENCHMARK.json and this benchmark's files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# spans each workload must drive (serve builds its index in set-up)
ACTIVE = {
    "serve": ("session.get_spark", "stats.prepare_docs", "build.build_index",
              "positions.build_positions", "query.topk.prep", "query.topk.exec",
              "query.topk_batched", "query.phrase_topk"),
    "upsert": ("session.get_spark", "stats.prepare_docs", "build.build_index",
               "incremental.ingest",
               "incremental.delete_documents", "incremental.compact_generations",
               "incremental.topk_all_generations.prep",
               "incremental.topk_all_generations.exec",
               "incremental.phrase_topk_all_generations"),
}


def _run(cwd: str, workload: str, seed: int, trace: int) -> tuple[int, dict | None, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "20", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    result = record = None
    if len(lines) >= 2:
        record = json.loads(lines[-2]).get("perfbench_record")
        result = json.loads(lines[-1])
    return proc.returncode, result, record


def _check_metrics(result: dict, spec: list[dict], what: str) -> list[str]:
    errs = []
    got = result["metrics"]
    if set(got) != {m["name"] for m in spec}:
        errs.append(f"{what}: metric names differ from BENCHMARK.json: "
                    f"{sorted(set(got) ^ {m['name'] for m in spec})}")
    for m in spec:
        if m["name"] in got and got[m["name"]]["unit"] != m["unit"]:
            errs.append(f"{what}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
    return errs


# Exact across two runs of one seed: job counts and row counts. Byte sizes
# agree only to BYTES_RTOL: parquet files written after a shuffle hold rows
# in fetch order, so their compressed sizes differ by a few bytes.
BYTES_RTOL = 1e-4
BYTE_COUNTS = ("stats.docs_bytes", "build.postings_bytes", "positions.bytes")


def _fingerprint(result: dict, record: dict) -> dict:
    m = result["metrics"]
    fp = {k: v["value"] for k, v in m.items() if k.endswith(".jobs")}
    fp["incremental.tombstone_rows"] = m["incremental.tombstone_rows"]["value"]
    fp["incremental.live_generations"] = m["incremental.live_generations"]["value"]
    for k in BYTE_COUNTS:
        fp[k] = m[k]["value"]
    fp["stored_bytes_per_input_byte"] = record["end_to_end"]["stored_bytes_per_input_byte"]
    return fp


def _differ(a: dict, b: dict) -> dict:
    out = {}
    for k in a:
        if k in BYTE_COUNTS or k == "stored_bytes_per_input_byte":
            same = abs(a[k] - b[k]) <= BYTES_RTOL * max(abs(a[k]), abs(b[k]))
        else:
            same = a[k] == b[k]
        if not same:
            out[k] = (a[k], b[k])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errs: list[str] = []
    for w in (x["name"] for x in bench["workloads"]):
        code, res, rec = _run(ROOT, w, args.seed, 0)
        if code != 0 or res is None or not res["correct"]:
            errs.append(f"{w}: untraced run failed (exit {code})")
        else:
            errs += _check_metrics(res, bench["end_to_end"], f"{w} trace 0")
        prints = []
        for attempt in (1, 2):
            code, res, rec = _run(ROOT, w, args.seed, 1)
            if code != 0 or res is None:
                errs.append(f"{w}: traced run {attempt} failed (exit {code})")
                break
            errs += _check_metrics(res, bench["per_layer"], f"{w} trace 1")
            m = res["metrics"]
            errs += [f"{w}: span {s} has no jobs" for s in ACTIVE[w] if not m[f"{s}.jobs"]["value"]]
            cov = m["trace.coverage"]["value"]
            if not 0.9 <= cov <= 1.0:
                errs.append(f"{w}: spans cover {cov:.3f} of the timed wall")
            prints.append(_fingerprint(res, rec))
        if len(prints) == 2 and (diff := _differ(*prints)):
            errs.append(f"{w}: counts differ across two runs of seed {args.seed}: {diff}")
        print(f"selftest: {w} done, {len(errs)} problem(s) so far", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, _ = _run(bare, "serve", args.seed, 0)
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        errs.append(f"bare directory: exit {code}, result printed: {res is not None}")

    for e in errs:
        print(f"selftest: FAIL {e}")
    print("selftest: OK" if not errs else f"selftest: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
