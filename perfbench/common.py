"""Helpers shared by the workloads: statistics, KG size on disk, and the
raw-triples view the DuckDB checks read."""

from __future__ import annotations

import gc
import math
import os
import statistics
import time

KG_TABLES = ("term_uids", "dict", "triples", "stats", "pred_stats")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value, samples); (0, 0, n) when there are ten or fewer."""
    n = len(xs)
    if n <= 10:
        return 0.0, 0.0, n
    pct = math.floor(100 * (n - 10) / n)
    ordered = sorted(xs)
    k = max(0, math.ceil(pct / 100 * n) - 1)
    return float(pct), ordered[k], n


def kg_bytes(base_dir: str) -> int:
    """Bytes of the data files ``KnowledgeGraph.load`` reads: parquet
    readers skip names starting with ``.`` or ``_`` (checksums, markers,
    manifests), so those are not counted."""
    total = 0
    for table in KG_TABLES:
        for dirpath, _, files in os.walk(os.path.join(base_dir, table)):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(dirpath, f))
    return total


def duck(parquet_glob: str, graph_filter: str = ""):
    """A DuckDB connection with view ``t(s, p, o, graph)`` over raw triples."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads = 1")
    where = f" WHERE {graph_filter}" if graph_filter else ""
    con.execute(f"CREATE VIEW t AS SELECT s, p, o, graph FROM read_parquet('{parquet_glob}'){where}")
    return con


def start_session(tr):
    """The Spark session every workload runs on: the program's own
    defaults on local[nproc], without the console progress bar."""
    from de_spark.session import get_spark

    with tr.span("session.start", new_op=True):
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep every job and stage in the status store for the traced read-back
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        tr.sc = spark.sparkContext
    return spark


def code_raw(spark, sf: float):
    """The synthetic code corpus at ``sf`` through the extract kernel."""
    from de_spark.corpus import generate_corpus
    from de_spark.extract import extract_code_triples

    return extract_code_triples(generate_corpus(spark, sf))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Ops:
    """The timed operations of one run, with the outcome of each check."""

    def __init__(self):
        self.rows: list[dict] = []
        self.errors: list[str] = []

    def add(self, kind: str, name: str, wall: float, ok: bool, traced: bool, triples: int = 0, why: str = "") -> None:
        self.rows.append(
            {"kind": kind, "name": name, "wall": wall, "ok": ok, "traced": traced, "triples": triples}
        )
        if not ok:
            self.errors.append(f"{kind} {name}: {why}")

    def walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [r["wall"] for r in self.rows if r["kind"] == kind and (traced is None or r["traced"] == traced)]

    @property
    def attempted(self) -> int:
        return len(self.rows)

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.rows)

    def end_to_end(self, setup_s: float, bytes_per_triple: float) -> dict:
        writes = [r for r in self.rows if r["kind"] == "write"]
        write_walls = [r["wall"] for r in writes]
        reads = self.walls("read")
        return {
            "setup_s": setup_s,
            "write_s": median(write_walls),
            "write_triples_per_s": sum(r["triples"] for r in writes) / sum(write_walls) if writes else 0.0,
            "read_p50_s": median(reads),
            "reads_per_s": len(reads) / sum(reads) if reads else 0.0,
            "kg_bytes_per_triple": bytes_per_triple,
        }

    def read_tail(self) -> tuple[float, float, int]:
        return tail(self.walls("read"))


def settle(spark) -> None:
    """Full JVM and Python garbage collection, untimed, so each timed
    write starts from a collected heap instead of inheriting the previous
    operation's garbage.  Not used before reads: a full collection can
    shrink the heap, and the reads would then pay to grow it again."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0
