"""Write pins.json: the outputs every benchmark run checks its own against.

Run from the root of a checkout, at the commit whose outputs are correct:

    python3 perfbench/make_pins.py

It computes the outputs of every image window and of the table workload
with the same code paths the benchmark checks, in one Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run

sys.path.insert(0, run.ROOT)
import workloads  # noqa: E402  (imports bench.py from the checkout root)


def main() -> int:
    os.chdir(run.ROOT)
    work = os.path.join(run.OUT, f"pins-{os.getpid()}")
    os.makedirs(work)
    run._prepare_env(work)
    spark = None
    try:
        modules = workloads.ImagesWorkload.modules + workloads.TablesWorkload.modules
        spark = run._start_spark(work, modules)
        pins = {"images": {"n_images": workloads.N_IMAGES, "windows": {}}}
        for w in range(workloads.WINDOWS):
            wl = workloads.ImagesWorkload(spark, w, os.path.join(work, f"w{w}"), pins)
            wl.prepare()
            pins["images"]["windows"][str(w)] = wl.observe()
            print(w, pins["images"]["windows"][str(w)], flush=True)
        wl = workloads.TablesWorkload(spark, 0, os.path.join(work, "tables"), pins)
        wl.prepare()
        pins["tables"] = wl.observe()
    finally:
        run._shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
