#!/usr/bin/env python3
"""Re-pins query_sweep's expected outputs: runs the sweep once and writes
`pins.json` (row count and content hash per query), refusing when a query
fails or its warm repetitions disagree. Pins are confirmed against the DuckDB
oracle separately (README.md, "Pins")."""
import json
import os
import shutil
import sys
import time

import run

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    c = run.CFG["query_sweep"]
    work = os.path.join(run.build.build_dir(), "work", f"pin-{os.getpid()}")
    os.makedirs(work)
    host = run.Host("sweep", work, 0, {"data": os.path.join(run.ROOT, c["data"]), "seconds": 0,
                                       "min_reps": 2, "only": ",".join(c["queries"])})
    try:
        r = host.result(time.monotonic() + 600)
    finally:
        host.stop()
    pins, bad = {}, []
    for q in r["queries"]:
        seen = {(q["first_rows"], q["first_hash"])} | set(zip(q["rows"], q["hash"]))
        if q["first_error"] or any(q["errors"]) or len(seen) != 1:
            bad.append(q["name"])
        else:
            pins[q["name"]] = {"rows": q["first_rows"], "hash": q["first_hash"]}
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        sys.exit(f"not pinned (failed or unstable): {', '.join(bad)}")
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins)} queries")


if __name__ == "__main__":
    main()
