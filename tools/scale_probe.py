"""×N scaling probe: duplicate the sf0.1 tables N× with shifted ids
into a scratch dir (multi-row-group layout, so scans parallelize),
then time a set of registry queries at sf0.1 vs ×N and print one
line per query. Usage:

    python tools/scale_probe.py [--factor N] [query ...]   # default ×8

Results are recorded in SCALING.md; the corpus is adversarial for
near-dup operators (every doc has N exact copies, so duplicate
cliques — and the candidate sets of any pairwise verifier — grow
quadratically in N by construction)."""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from bench import _newest_mtime  # noqa: E402
from transit_data_pipeline_spark.operators.registry import all_specs  # noqa: E402
from transit_data_pipeline_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.1"
XDIR_TPL = "/tmp/tdps_probe_x{n}"

#: id column to shift per table so duplicated rows stay key-unique.
_SHIFT = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "region": None,
    "nation": None,
}

DEFAULT = [
    "doc_chunking",
    "text_gopher_rules",
    "hash_split_3way",
    "winsorize_clip",
    "zscore_normalize",
    "kmeans_semantic_clusters",
    "pack_sequences",
    "vocab_heavy_hitters",
    "streaming_sliding_rate",
]


def build_xn(spark, factor: int, base: str = SF) -> str:
    """Materialize the ×factor corpus: every row duplicated `factor`
    times with its id column shifted by i·(max_id+1), content
    unchanged. `base` defaults to the sf0.1 probe scale; a different
    base gets its own cache directory keyed by the base dir name PLUS
    a hash of its absolute path (two distinct fixtures that share a
    dir name — e.g. any two 'sf0.001' dirs — must not share a cache,
    ADVICE r9). A cached table older than its source parquet is
    rebuilt, so regenerated fixtures never silently reuse a stale ×N
    corpus across runs."""
    xdir = XDIR_TPL.format(n=factor)
    if base != SF:
        tag = hashlib.sha1(
            os.path.abspath(base.rstrip("/")).encode()
        ).hexdigest()[:8]
        xdir = (
            f"/tmp/tdps_probe_{os.path.basename(base.rstrip('/'))}"
            f"_{tag}_x{factor}"
        )
    os.makedirs(xdir, exist_ok=True)
    for t, idc in _SHIFT.items():
        out = os.path.join(xdir, f"{t}.parquet")
        src_path = os.path.join(base, f"{t}.parquet")
        if os.path.exists(out):
            if _newest_mtime(out) >= _newest_mtime(src_path):
                continue
            # source regenerated after the cache was built → rebuild
            if os.path.isdir(out):
                shutil.rmtree(out)
            else:
                os.remove(out)
        if t == "events":
            # Spark cannot WRITE TIMESTAMP(NANOS): a Spark-side copy
            # (nanosAsLong read) lands as a raw BIGINT ts column —
            # fine for the engine (normalize_events accepts both
            # encodings) but unusable by the DuckDB oracles, which
            # address ts as a timestamp. Build the ×N events in
            # DuckDB instead: it reads TIMESTAMP_NS at µs precision
            # and writes timestamp[us], the OTHER encoding
            # normalize_events accepts — so both engines see the
            # same values and the events family becomes
            # scale-verifiable (tools/scale_verify.py).
            import duckdb

            con = duckdb.connect()
            src = os.path.join(base, f"{t}.parquet")
            n = con.execute(
                f"SELECT MAX({idc}) + 1 FROM '{src}'"
            ).fetchone()[0]
            # The CAST(ts AS TIMESTAMP) is explicit and version-
            # independent (ADVICE r7): DuckDB 1.0 implicitly truncates
            # TIMESTAMP_NS to µs on read, but newer DuckDB preserves
            # native TIMESTAMP_NS and would write TIMESTAMP(NANOS)
            # parquet that Spark cannot read without the nanosAsLong
            # conf. Forcing µs here pins the encoding contract.
            con.execute(
                f"COPY (SELECT e.* REPLACE ("
                f"CAST(e.ts AS TIMESTAMP) AS ts, "
                f"e.{idc} + f.i * {n} AS {idc})"
                f" FROM '{src}' e CROSS JOIN range({factor}) f(i))"
                f" TO '{out}.tmp' (FORMAT PARQUET)"
            )
            con.close()
            os.rename(out + ".tmp", out)
            continue
        df = spark.read.parquet(os.path.join(base, f"{t}.parquet"))
        if idc is None:
            copies = df
        else:
            n = df.agg(F.max(idc)).collect()[0][0] + 1
            copies = df
            for i in range(1, factor):
                copies = copies.unionByName(
                    df.withColumn(idc, F.col(idc) + F.lit(i * n))
                )
        # tmp dir then single-file-per-partition layout; keep multiple
        # row groups so the scan parallelizes (unlike the driver files)
        parts = max(16, 2 * factor)
        copies.repartition(parts).write.mode("overwrite").parquet(out + ".d")
        os.rename(out + ".d", out)
    return xdir


def main() -> None:
    args = sys.argv[1:]
    factor = 8
    if args and args[0] == "--factor":
        factor = int(args[1])
        args = args[2:]
    names = args or DEFAULT
    spark = get_spark("tdps-scale-probe")
    xdir = build_xn(spark, factor)
    specs = all_specs()
    for name in names:
        row = [name]
        for sf_dir in (SF, xdir):
            best = None
            for _ in range(2):
                t0 = time.monotonic()
                specs[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.monotonic() - t0
                best = dt if best is None else min(best, dt)
            row.append(f"{best:.2f}s")
        print("  ".join(row), flush=True)


if __name__ == "__main__":
    main()
