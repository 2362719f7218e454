"""Record the per-stage output digests the benchmark compares against.

    python3 perfbench/record.py --workload ingest_wide --seeds 0-23

Runs one chain per seed in one session, checks it (the CF2 oracle and the
row accounting must pass) and adds its digests to ``digests.json``.  A
digest already recorded must match: when a program change alters outputs
on purpose, delete the affected entries by hand and say why.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args(argv)
    first, last = (int(x) for x in args.seeds.split("-"))

    run._environment()
    import procs
    from checks import DIGESTS

    book = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS, encoding="utf-8") as fh:
            book = json.load(fh)
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    spark = None
    procs.claim_orphans()
    try:
        for seed in range(first, last + 1):
            spark, ctx, inp, _ = run.setup(args.workload, seed, f"{work}/{seed}", spark)
            ledger = dict(attempted=0, failed=0, digests={})
            r = run.one_run(ctx, inp, f"{work}/{seed}", 1, False, ledger)
            if ledger["failed"]:
                print(f"seed {seed}: checks failed, nothing recorded", file=sys.stderr)
                return 1
            book.setdefault(args.workload, {})[str(seed)] = {
                s: x["digest"] for s, x in r["result"].items()
            }
            print(f"seed {seed}: {r['wall']:.1f} s", flush=True)
            shutil.rmtree(f"{work}/{seed}", ignore_errors=True)
    finally:
        procs.stop_all(spark)
        shutil.rmtree(work, ignore_errors=True)
        with open(DIGESTS, "w", encoding="utf-8") as fh:
            json.dump(book, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
