"""Compare the benchmark's seeded query tables with a reference table
directory (for example the sf0.1 testdata the engine's oracles were
written against): row counts, row groups, the data shapes the heavy
kernels are sensitive to, and the warm wall time of every query key the
benchmark runs, on one session, alternating between the two directories.

    python3 perfbench/fidelity.py --reference <sf0.1 dir> --seed 1 --repeat 3

Prints one JSON object. Scratch files go to ``.perfbench_work/`` in the
checkout and are removed at the end.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import run  # noqa: E402


def shapes(sf_dir: str) -> dict:
    """Row counts, row groups and the kernel-relevant shapes of one
    table directory."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {"rows": {}, "row_groups": {}}
    for name in sorted(inputs.SF01_ROWS) + ["nation", "region"]:
        f = pq.ParquetFile(os.path.join(sf_dir, f"{name}.parquet"))
        out["rows"][name] = f.metadata.num_rows
        out["row_groups"][name] = f.metadata.num_row_groups
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pylist()
    texts = [d["text"] or "" for d in docs]
    words = [t.split() for t in texts]
    shingles = [{" ".join(w[i : i + 3]) for i in range(len(w) - 2)} for w in words]
    de = [t for d, t in zip(docs, texts) if d["lang"] == "de"]
    grams = [{t[i : i + 3] for i in range(len(t) - 2)} for t in de]
    out["documents"] = {
        "lang": dict(sorted(collections.Counter(d["lang"] for d in docs).items())),
        "chars_mean": round(statistics.mean(len(t) for t in texts), 1),
        "chars_p50": statistics.median(len(t) for t in texts),
        "vocabulary": len({x for w in words for x in w}),
        "distinct_texts": len(set(texts)),
        "word3_pairs": sum(len(s) for s in shingles),
        "word3_distinct": len(set().union(*shingles)),
        "de_char3_pairs": sum(len(g) for g in grams),
        "de_char3_distinct": len(set().union(*grams)),
    }
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    out["embeddings"] = {"dim": len(emb.column("embedding")[0].as_py())}
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=["user_id", "event_type"])
    out["events"] = {
        "users": len(pc.unique(ev.column("user_id"))),
        "event_types": len(pc.unique(ev.column("event_type"))),
    }
    li = pq.read_table(os.path.join(sf_dir, "lineitem.parquet"), columns=["l_orderkey", "l_partkey"])
    out["lineitem"] = {
        "orders": len(pc.unique(li.column("l_orderkey"))),
        "parts": len(pc.unique(li.column("l_partkey"))),
    }
    return out


def key_walls(dirs: dict[str, str], keys: list[str], repeat: int) -> dict:
    """Warm wall seconds (construction plus a noop write) per key and
    directory: one warm-up, then the median of ``repeat`` runs. The order
    of the directories flips every round, so neither always runs second."""
    from e2e_etl_pipeline_spark import registry, session, shipping

    spark = session.get_session(
        "perfbench-fidelity",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(run.WORK, "warehouse")},
    )
    try:
        registry.load_all()
        shipping.ensure_package_shipped(spark)
        walls: dict = {label: collections.defaultdict(list) for label in dirs}
        for i in range(repeat + 1):
            order = list(dirs.items())[:: 1 if i % 2 else -1]
            for key in keys:
                for label, sf_dir in order:
                    t0 = time.perf_counter()
                    registry.QUERIES[key](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    if i:
                        walls[label][key].append(time.perf_counter() - t0)
    finally:
        run.stop_spark(spark)
    return {
        label: {k: round(statistics.median(v), 3) for k, v in per.items()}
        for label, per in walls.items()
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reference", required=True, help="directory of reference tables")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--keys", nargs="*", default=run.HEADLINE)
    args = ap.parse_args(argv)

    run._prepare_environment()  # noqa: SLF001
    generated = os.path.join(run.WORK, "tables")
    inputs.write_tables(generated, args.seed)
    # A copy, so both directories are read from the same file system.
    reference = os.path.join(run.WORK, "reference")
    shutil.copytree(args.reference, reference, copy_function=shutil.copyfile)
    os.chmod(reference, 0o755)
    dirs = {"reference": reference, "generated": generated}
    try:
        report = {label: shapes(d) for label, d in dirs.items()}
        walls = key_walls(dirs, args.keys, args.repeat) if args.keys else {}
        for label in dirs:
            if walls:
                report[label]["key_wall_s"] = walls[label]
                report[label]["key_wall_s_total"] = round(sum(walls[label].values()), 3)
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    print(json.dumps({"seed": args.seed, **report}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
