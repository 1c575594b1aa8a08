"""Pipeline CLI — the reference's per-stage entry points, unified.

Reference lifecycle (SURVEY §3): each stage is a Python CLI module
(``python -m src.ingestion.orders_to_bronze`` …). Here one driver with
subcommands covers the whole chain::

    python -m ecom_churn_lakehouse_spark.pipelines.cli bronze \
        --raw /data/raw --bronze /lake/bronze --audit /lake/audit --run-id r1
    python -m ... silver --bronze /lake/bronze --silver /lake/silver \
        --quarantine /lake/q --run-id r2
    python -m ... gold   --silver ... --gold ... --as-of 2025-03-31 --run-id r3
    python -m ... labels --silver ... --labels ... --as-of 2025-03-31 --run-id r4
    python -m ... snapshot --gold ... --labels ... --snapshot ... --as-of ... --run-id r5
    python -m ... export --gold ... --export /lake/latest
    python -m ... train  --snapshot ... --model /lake/model.json

Each command prints a one-line JSON result (rows published/rejected,
skipped flag) — machine-consumable like the reference's structured
logs (pipeline_logging.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ecom-churn-lakehouse-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("bronze")
    b.add_argument("--raw", required=True)
    b.add_argument("--bronze", required=True)
    b.add_argument("--audit", required=True)
    b.add_argument("--run-id", required=True)

    s = sub.add_parser("silver")
    s.add_argument("--bronze", required=True)
    s.add_argument("--silver", required=True)
    s.add_argument("--quarantine", required=True)
    s.add_argument("--run-id", required=True)

    g = sub.add_parser("gold")
    g.add_argument("--silver", required=True)
    g.add_argument("--gold", required=True)
    g.add_argument("--as-of", required=True)
    g.add_argument("--run-id", required=True)

    gi = sub.add_parser("gold-incremental")
    gi.add_argument("--silver", required=True)
    gi.add_argument("--gold", required=True)
    gi.add_argument(
        "--keys",
        required=True,
        help="parquet with a customer_id column: the CDC delta's key set",
    )
    gi.add_argument("--as-of", required=True)
    gi.add_argument("--run-id", required=True)

    l = sub.add_parser("labels")
    l.add_argument("--silver", required=True)
    l.add_argument("--labels", required=True)
    l.add_argument("--as-of", required=True)
    l.add_argument("--run-id", required=True)
    l.add_argument("--horizon-days", type=int, default=60)

    t = sub.add_parser("snapshot")
    t.add_argument("--gold", required=True)
    t.add_argument("--labels", required=True)
    t.add_argument("--snapshot", required=True)
    t.add_argument("--as-of", required=True)
    t.add_argument("--run-id", required=True)

    e = sub.add_parser("export")
    e.add_argument("--gold", required=True)
    e.add_argument("--export", required=True)

    tr = sub.add_parser("train")
    tr.add_argument("--snapshot", required=True)
    tr.add_argument("--model", required=True)

    args = p.parse_args(argv)

    from ecom_churn_lakehouse_spark.session import get_spark

    spark = get_spark(f"pipeline-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    from ecom_churn_lakehouse_spark import pipelines

    if args.cmd == "bronze":
        r = pipelines.bronze_ingest(spark, args.raw, args.bronze, args.audit, args.run_id)
    elif args.cmd == "silver":
        r = pipelines.silver_publish(
            spark, args.bronze, args.silver, args.quarantine, args.run_id
        )
    elif args.cmd == "gold":
        r = pipelines.gold_features(
            spark, args.silver, args.gold, args.as_of, args.run_id
        )
    elif args.cmd == "gold-incremental":
        from ecom_churn_lakehouse_spark.pipelines.incremental import (
            incremental_gold_update,
        )

        r = incremental_gold_update(
            spark,
            args.silver,
            args.gold,
            spark.read.parquet(args.keys),
            args.as_of,
            args.run_id,
        )
    elif args.cmd == "labels":
        r = pipelines.label_snapshot(
            spark, args.silver, args.labels, args.as_of, args.run_id, args.horizon_days
        )
    elif args.cmd == "snapshot":
        r = pipelines.training_snapshot_publish(
            spark, args.gold, args.labels, args.snapshot, args.as_of, args.run_id
        )
    elif args.cmd == "export":
        r = pipelines.latest_features_export(spark, args.gold, args.export)
    elif args.cmd == "train":
        from ecom_churn_lakehouse_spark.sources.managed_table import ManagedTable
        from ecom_churn_lakehouse_spark.training import train_churn_model

        snap = ManagedTable(spark, args.snapshot, keys=["customer_id"]).read()
        model = train_churn_model(snap)
        model.save(args.model)
        print(
            json.dumps(
                {
                    "cmd": "train",
                    "rows": model.n_rows,
                    "train_accuracy": model.train_accuracy,
                    "model_path": args.model,
                }
            )
        )
        return 0
    else:  # pragma: no cover
        p.error(f"unknown command {args.cmd}")

    print(
        json.dumps(
            {
                "cmd": args.cmd,
                "rows_published": r.rows_published,
                "rows_rejected": r.rows_rejected,
                "skipped": r.skipped,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
