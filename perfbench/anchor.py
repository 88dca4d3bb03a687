#!/usr/bin/env python3
"""Re-derives the mixes' expected outputs and records how they were checked.

    python3 perfbench/anchor.py

Run from the root of a checkout. For every query of every mix it
  1. dumps the query's output with graft.Verify (SPARK_GRAFT_ONLY, local[nproc])
     over perfbench/data/sf0.1;
  2. compares that dump with the DuckDB oracle via tools/t2_local.py;
  3. fingerprints each query live and from its dump (row count, sum of row
     xxhash64) and requires the two to agree.
It then rewrites perfbench/mixes.json: the mixes' queries with their expected
fingerprints, and an `anchor` record of the run. A query whose oracle fails,
or whose live and dumped fingerprints differ, stops the script.
"""
import datetime
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# perfbench/README.md explains the choice of queries and what was left out.
MIXES = {
    "mix_heavy": ["q_triangles", "q_stream_pit"],
}


def main() -> int:
    classpath = run.build()
    work = os.path.join(run.HERE, ".work", "anchor")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    queries = sorted(q for qs in MIXES.values() for q in qs)
    cpus = len(os.sched_getaffinity(0))
    dump = os.path.join(work, "verify")
    try:
        env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries), SPARK_GRAFT_CPUS=str(cpus))
        subprocess.run(run.java_cmd(classpath, work, "graft.Verify", [run.DATA, dump]),
                       cwd=work, env=env, check=True, stdin=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
        t2 = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "t2_local.py"),
                             run.DATA, dump], capture_output=True, text=True)
        oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
        verdict = {}
        for line in t2.stdout.splitlines():
            parts = line.split(" ", 2)
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL", "SKIP"):
                verdict[parts[1].rstrip(":")] = line
        status = {q: verdict.get(q, "no DuckDB oracle (not in oracle_sql.json)")
                  for q in queries}
        bad = [s for q, s in status.items() if q in oracle and not s.startswith("PASS")]
        if bad:
            print("\n".join(bad))
            return 1
        out = subprocess.run(run.java_cmd(classpath, work, "perfbench.Anchor",
                                          [run.DATA, dump] + queries),
                             cwd=work, capture_output=True, text=True, check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    prints = {}
    for line in out.stdout.splitlines():
        if line.startswith("ANCHOR\t"):
            _, q, rows, h, drows, dh = line.split("\t")
            if (rows, h) != (drows, dh):
                print(f"{q}: live output {rows}/{h} differs from its Verify dump {drows}/{dh}")
                return 1
            prints[q] = [int(rows), h]
    commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=run.ROOT,
                            capture_output=True, text=True).stdout.strip() or None
    doc = {
        "anchor": {
            "date": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "engine_commit": commit,
            "verify": f"graft.Verify perfbench/data/sf0.1 with SPARK_GRAFT_ONLY=<the "
                      f"{len(queries)} queries> on local[{cpus}]",
            "oracle": "tools/t2_local.py perfbench/data/sf0.1 <verify dump>",
            "oracle_summary": t2.stdout.strip().splitlines()[-1],
            "per_query": status,
        },
        "workloads": {m: {q: prints[q] for q in qs} for m, qs in MIXES.items()},
    }
    with open(run.MIXES, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    print(doc["anchor"]["oracle_summary"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
