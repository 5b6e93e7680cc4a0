"""Record the pins ``run.py`` checks the cdc_mor inputs against.

    python3 perfbench/pin.py

For each generator seed 0..PINNED_SEEDS-1 (``--seed n`` uses seed
``n % PINNED_SEEDS``), the record count and content digest of the changefeed
log ``sources/generator.py`` writes for the cdc_mor workload. A run fails
when the generator's output no longer matches its pin.

Re-record only when a change to the generator's output is intended, and say
so in that change.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

sys.path.insert(0, harness.ROOT)


def main() -> int:
    import cdc
    from debezium_connector_cockroachdb_spark.sources.generator import write_log

    run = harness.RunDir()
    spark = harness.start_session(run, "perfbench-pin")
    seeds = {}
    try:
        for seed in range(cdc.PINNED_SEEDS):
            out = run.sub(f"log{seed}")
            write_log(spark, cdc.generator_config(seed), out)
            n, digest = cdc.log_digest(sorted(glob.glob(os.path.join(out, "*.parquet"))))
            seeds[str(seed)] = [n, digest]
            shutil.rmtree(out)
            print(f"cdc seed {seed}: {n} records", file=sys.stderr)
    finally:
        harness.stop_session(spark)
        run.remove()
    with open(cdc.PINS, "w") as f:
        json.dump({cdc.PIN_KEY: seeds}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
