"""Write the pinned outputs the benchmark checks ``plans.layers.run_all``
against: ``analytics.supplier_stats`` and the four ``dashboard.*`` marts,
computed from the unpermuted fixture tables.

    python3 perfbench/make_reference.py [--scale sf0.1]

Rerun it only when the engine's output is meant to change; every seed's
permutation must reproduce these tables (the rerun guarantee stated in
plans/layers.py)."""

from __future__ import annotations

import argparse
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import dump_reference, from_parquet  # noqa: E402
from inputs import fixture_dir  # noqa: E402
from run import ROOT, WORK_ROOT, pin_environment, stop_session  # noqa: E402
from workloads import PINNED  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", default="sf0.1")
    args = ap.parse_args()
    run_dir = os.path.join(WORK_ROOT, f"reference-{os.getpid()}")
    pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    from wnba_data_pipeline_spark.plans import layers
    from wnba_data_pipeline_spark.session import ensure_confs, get_spark

    spark = ensure_confs(get_spark())
    try:
        base = os.path.join(run_dir, "warehouse")
        layers.run_all(spark, fixture_dir(args.scale), base)
        tables = layers.layer_tables(base)
        dump_reference(
            {name: from_parquet(tables[name]) for name in PINNED},
            os.path.join(HERE, "reference", f"{args.scale}.json"),
        )
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
