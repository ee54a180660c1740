"""Record the registry fingerprints the benchmark checks rows against.

    python3 perfbench/record_fingerprints.py run A.json    # every row, once
    python3 perfbench/record_fingerprints.py run B.json    # again, fresh process
    taskset -c 0,1 python3 perfbench/record_fingerprints.py run C.json  # 2 cores
    python3 perfbench/record_fingerprints.py merge A.json B.json C.json

``merge`` writes perfbench/fingerprints.json from the first file. A row whose
fingerprints differ between the files is kept in ``unstable`` with every
fingerprint seen, and the benchmark then checks it by row count and schema
only. Runs on fewer cores use fewer shuffle partitions, which is where a
float result that depends on summation order would show.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import HERE, pin_environment, shutdown  # noqa: E402


def record(out_path: str) -> None:
    pin_environment()
    from elastic_surv_spark.plans.queries import REGISTRY, release_shared_caches
    from elastic_surv_spark.session import get_spark

    from perfbench.workloads import SF_DIR, fingerprint

    spark = get_spark(app_name="perfbench-fingerprints")
    try:
        fps = {}
        for name, spec in REGISTRY.items():
            release_shared_caches()
            fps[name] = fingerprint(spec.fn(spark, SF_DIR))
    finally:
        shutdown(spark)
    with open(out_path, "w") as fh:
        json.dump(fps, fh, indent=1)


def merge(paths: list[str]) -> None:
    runs = []
    for path in paths:
        with open(path) as fh:
            runs.append(json.load(fh))
    first = runs[0]
    unstable = {
        k: [run.get(k) for run in runs]
        for k in first
        if any(run.get(k) != first[k] for run in runs[1:])
    }
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump({"rows": first, "unstable": unstable}, fh, indent=1)
    print(f"{len(first)} rows, {len(unstable)} unstable: {sorted(unstable)}")


if __name__ == "__main__":
    if sys.argv[1:2] == ["run"] and len(sys.argv) == 3:
        record(sys.argv[2])
    elif sys.argv[1:2] == ["merge"] and len(sys.argv) >= 4:
        merge(sys.argv[2:])
    else:
        sys.exit(__doc__)
