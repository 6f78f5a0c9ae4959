"""The benchmark's workloads.

Each workload is a closed loop run by one process on ``local[nproc]``:
the next operation starts only when the previous one has returned.

``dashboard_backfill``
    The first cron run of a fresh process: ``scripts/run_pipeline.py``'s
    ``run_pipeline`` over a seeded event history into an empty output
    directory (ingest, parse, price enrichment, the gold fan-out,
    personal-best posting, run summary), then gold-table reads, each
    ``read_published`` + ``collect()`` of one table with all columns.

``vector_index``
    ``multimodal.embedder.embed_documents`` over seeded documents, written
    out, then ``kmeans_fit`` -> ``pq_train`` ->
    ``kmeans_assignments`` + ``write_pq_index`` over seeded clustered
    embeddings and a closed loop of ``ivfpq_topk_at_rest`` probes,
    scored against an exact numpy brute force.

Both report the same end-to-end metrics (the ``pipeline`` metrics are
the write side, the ``query`` metrics the read side), so every metric
exists on every workload.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import numpy as np

import gen

NPROC = os.cpu_count() or 1

# span name prefix -> layer (the package module it belongs to)
LAYERS = (
    "orchestration",
    "plans",
    "sources",
    "reports",
    "operators",
    "streaming",
    "multimodal",
    "query",
    "bench",
)


def layer_of(span_name: str) -> str:
    head = span_name.split(".", 1)[0]
    if head in ("stage", "scripts"):
        return "orchestration"
    return head if head in LAYERS else "bench"


# every wrapped function; the per-layer metrics report each of them on
# both workloads (a function a workload does not call reads 0)
FUNCTIONS = (
    "stage.ingest",
    "stage.parse",
    "stage.enrich",
    "stage.transform",
    "stage.post_pbs",
    "stage.summary",
    "plans.build_parse_plan",
    "sources.dedup_append",
    "sources.publish_blue_green",
    "sources.read_published",
    "reports.build",
    "operators.asof_join",
    "streaming.upsert_sink.process_batch",
    "multimodal.embed_documents",
    "operators.kmeans_fit",
    "operators.pq_train",
    "operators.kmeans_assignments",
    "operators.write_pq_index",
    "operators.ivfpq_topk_at_rest",
    "query.gold_read",
    "query.ann_probe",
)

# outputs of the program, counted after the timed region
COUNTS = (
    "sources.table_files",
    "sources.files_written",
    "sources.bytes_written",
    "reports.gold_rows",
)


def count_unit(name: str) -> str:
    return "bytes" if "bytes" in name else "count"


def _parquet_files(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def _rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _read(path: str, columns=None):
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns).to_pandas()


def _closed_loop(
    one, items, seconds: float, min_queries: int, multiple_of: int = 1
) -> tuple[list[float], list[float]]:
    """Run ``one(item)`` over ``items`` round-robin until ``seconds``
    have passed, at least ``min_queries`` ran and their number is a
    multiple of ``multiple_of``; returns each call's latency and the
    program's CPU time during it, both in ms.  The CPU time of one call
    also holds whatever the JVM's background threads (JIT, GC) did
    meanwhile, so its median, not its mean, is the steady figure."""
    lat, cpu = [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while len(lat) < min_queries or len(lat) % multiple_of or time.perf_counter() < t_end:
        c = tree_cpu_s()
        t = time.perf_counter()
        one(items[i % len(items)])
        lat.append(1000.0 * (time.perf_counter() - t))
        cpu.append(1000.0 * (tree_cpu_s() - c))
        i += 1
    return lat, cpu


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it: the Spark JVM and its Python workers.  Children
    that have exited count through their parent's reaped-children
    times.  Time the hypervisor steals from the host's vCPUs is charged
    to no process, so this clock moves less with host load than wall
    time does."""
    tick = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        # fields after "(comm)": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(p))
        cpu[int(p)] = sum(int(v) for v in fields[11:15]) / tick
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo += kids.get(pid, [])
    return total


def _collect_garbage(spark) -> None:
    """Run a full JVM garbage collection.  Called between the build and
    the query phase, so the query phase does not pay for collecting what
    the build left on the heap (a share that varied from run to run)."""
    spark.sparkContext._jvm.System.gc()


def _output_counts(root: str, table_roots: list[str]) -> dict:
    files = _parquet_files(root)
    return {
        "sources.table_files": sum(len(_parquet_files(r)) for r in table_roots),
        "sources.files_written": len(files),
        "sources.bytes_written": sum(os.path.getsize(f) for f in files),
    }


class DashboardBackfill:
    LOOP = "closed loop, 1 client: one run_pipeline cron run in a fresh process, then gold-table reads round-robin"
    N_EVENTS = 20_000
    READ_PASSES = 1
    STAGES = ("ingest", "parse", "enrich", "transform", "post_pbs", "summary")

    def generate(self, seed: int, in_dir: str) -> dict:
        return {"events": gen.write_events(seed, in_dir, self.N_EVENTS, NPROC)}

    def install_spans(self, tracer) -> None:
        import run_pipeline as rp

        from osrs_dashboard_elt_spark import orchestration, plans, reports, sources
        from osrs_dashboard_elt_spark.operators import asof
        from osrs_dashboard_elt_spark.reports import runner
        from osrs_dashboard_elt_spark.streaming.upsert_sink import ExternalUpsertSink

        # run_pipeline imports these names from their modules when it
        # runs, so replacing the module attribute is what it calls
        def table(i):
            return lambda a, k: {"table": "/".join(a[i].rstrip("/").split("/")[-2:])}

        run_stages = orchestration.run_stages

        def staged(stages, *a, **k):
            return run_stages([(n, tracer.traced(f"stage.{n}", fn)) for n, fn in stages], *a, **k)

        orchestration.run_stages = staged
        tracer.wrap(rp, "synthesize_raw_messages", "scripts.synthesize_raw_messages")
        tracer.wrap(plans, "build_parse_plan", "plans.build_parse_plan")
        tracer.wrap(sources, "dedup_append", "sources.dedup_append", tag=table(2))
        tracer.wrap(sources, "publish_blue_green", "sources.publish_blue_green", tag=table(1))
        tracer.wrap(sources, "read_published", "sources.read_published", tag=table(1))
        for fn in ("leaderboard_report", "timeseries_report", "personal_bests_report", "recent_achievements_report"):
            tracer.wrap(reports, fn, "reports.build", tag=lambda a, k, fn=fn: {"fn": fn})
        tracer.wrap(runner, "generate_all_reports", "reports.build", tag=lambda a, k: {"fn": "generate_all_reports"})
        tracer.wrap(asof, "asof_join", "operators.asof_join")
        tracer.wrap(ExternalUpsertSink, "process_batch", "streaming.upsert_sink.process_batch")

    def run(self, spark, tracer, work: str, inputs: dict, seconds: float) -> dict:
        import run_pipeline as rp

        from osrs_dashboard_elt_spark import sources, suite

        out = os.path.join(work, "out")
        suite.reset_memos()
        c, t = tree_cpu_s(), time.perf_counter()
        stage_s = rp.run_pipeline(spark, os.path.join(work, "in"), out)
        pipeline_s = time.perf_counter() - t
        pipeline_cpu_s = tree_cpu_s() - c

        gold = sorted(os.listdir(os.path.join(out, "gold")))
        rows: dict[str, list] = {}

        def read(name):
            with tracer.span("query.gold_read", table=name):
                rows[name] = sources.read_published(spark, f"{out}/gold/{name}").collect()

        # a dashboard reader is a long-lived process: one warm-up pass
        # over the gold tables, then whole passes until ``seconds`` have
        # passed, at least READ_PASSES of them
        _collect_garbage(spark)
        _closed_loop(read, gold, 0, len(gold))
        lat, cpu = _closed_loop(read, gold, seconds, self.READ_PASSES * len(gold), len(gold))
        counts = _output_counts(out, [f"{out}/bronze", f"{out}/silver"])
        counts["reports.gold_rows"] = sum(len(v) for v in rows.values())
        return {
            "pipeline_s": pipeline_s,
            "pipeline_cpu_s": pipeline_cpu_s,
            "query_ms": lat,
            "query_cpu_ms": statistics.median(cpu),
            "ops": len(self.STAGES) + len(gold) + len(lat),
            # a stage that does not report back did not run; run_pipeline
            # swallows a failed enrich stage, which check() detects
            "failed_ops": sum(s not in stage_s for s in self.STAGES),
            "gold": rows,
            "counts": counts,
            "named": {
                "backfill_events_per_s": inputs["events"]["distinct_events"] / pipeline_s,
                "gold_read_p50_ms": statistics.median(lat),
                "gold_reads": len(lat),
                "stage_s": stage_s,
            },
        }

    def check(self, work: str, inputs: dict, res: dict) -> dict[str, bool]:
        out = os.path.join(work, "out")
        bronze = _rows(f"{out}/bronze/raw_logs")
        silver_ids = set()
        for t in ("chat", "clan_broadcasts", "unparsed_logs"):
            silver_ids |= set(_read(f"{out}/silver/{t}", ["raw_log_id"]).raw_log_id)
        bc = _read(f"{out}/silver/clan_broadcasts", ["Username", "Broadcast_Type"])
        drops = bc[bc.Broadcast_Type == "Valuable Drop"]
        lb = res["gold"]["leaderboard_drops"]
        try:
            with open(f"{out}/ETL_state.json") as f:
                enrich_ok = "last_successful_run_utc" in json.load(f).get("enrich", {})
        except (OSError, ValueError):
            enrich_ok = False
        return {
            # re-fetched rows are dropped at ingest
            "bronze_rows_equal_distinct_events": bronze == inputs["events"]["distinct_events"],
            # every message lands in a silver table or the dead letter
            "silver_accounts_for_every_bronze_row": len(silver_ids) == bronze,
            "leaderboard_counts_every_silver_drop": sum(r["Count_All_Time"] for r in lb) == len(drops),
            "leaderboard_users_match_silver": {r["Username"] for r in lb} == set(drops.Username),
            "detailed_drops_all_time_rows_match_silver": len(res["gold"]["detailed_drops_all_time"]) == len(drops),
            # the tolerated price stage: state recorded and quotes published
            "enrich_succeeded": enrich_ok and os.path.isdir(f"{out}/silver/item_quotes"),
            "post_pbs_upserted_pages": len(os.listdir(f"{out}/discord_docs")) > 0,
        }


class VectorIndex:
    LOOP = "closed loop, 1 client: document embedding and one k-means/PQ index build, then ANN probes round-robin"
    N_DOCS = 1_000
    N, DIM, CLUSTER_SIZE = 5_000, 32, 10
    CELLS, NPROBE, KMEANS_ITER = 8, 2, 2
    PQ_M, PQ_K = 8, 8
    TOPK = 10
    N_QUERIES = 10

    def generate(self, seed: int, in_dir: str) -> dict:
        return {
            "seed": seed,
            "documents": gen.write_documents(seed, in_dir, self.N_DOCS, NPROC),
            "embeddings": gen.write_embeddings(seed, in_dir, self.N, self.DIM, self.CLUSTER_SIZE, NPROC),
            "queries": self.N_QUERIES,
        }

    def install_spans(self, tracer) -> None:
        from osrs_dashboard_elt_spark.operators import kmeans, pq

        for mod, fn in ((kmeans, "kmeans_fit"), (kmeans, "kmeans_assignments"), (pq, "pq_train"), (pq, "write_pq_index"), (pq, "ivfpq_topk_at_rest")):
            tracer.wrap(mod, fn, f"operators.{fn}")

    def run(self, spark, tracer, work: str, inputs: dict, seconds: float) -> dict:
        from osrs_dashboard_elt_spark import suite
        from osrs_dashboard_elt_spark.multimodal.embedder import embed_documents
        from osrs_dashboard_elt_spark.operators import kmeans, pq

        out = os.path.join(work, "out")
        emb_path = os.path.join(work, "in", "embeddings.parquet")
        index = os.path.join(out, "ivfpq")
        seed = inputs["seed"]
        suite.reset_memos()
        c, t = tree_cpu_s(), time.perf_counter()
        with tracer.span("multimodal.embed_documents"):
            docs = spark.read.parquet(os.path.join(work, "in", "documents.parquet"))
            embed_documents(docs, "doc_id").write.parquet(os.path.join(out, "doc_embeddings"))
        emb = spark.read.parquet(emb_path)
        cents = kmeans.kmeans_fit(emb, "embedding", k=self.CELLS, n_iter=self.KMEANS_ITER, seed=seed, id_col="vec_id")
        books = pq.pq_train(emb, "embedding", m=self.PQ_M, k=self.PQ_K, seed=seed, dim=self.DIM, id_col="vec_id")
        cells = kmeans.kmeans_assignments(emb, "embedding", cents, id_col="vec_id")
        pq.write_pq_index(emb.join(cells, "vec_id"), "embedding", books, index, id_col="vec_id", partition_cols=["cell"])
        build_s = time.perf_counter() - t
        build_cpu_s = tree_cpu_s() - c

        queries = gen.query_vectors(seed, self.N_QUERIES, self.N, self.DIM, self.CLUSTER_SIZE)
        found: dict[int, list] = {}

        def probe(i):
            with tracer.span("query.ann_probe"):
                found[i] = pq.ivfpq_topk_at_rest(
                    spark, index, books, cents, queries[i].tolist(), k=self.TOPK,
                    nprobe=self.NPROBE, cell_rank="kmeans",
                ).collect()

        # every held-out query is probed at least once, so recall covers
        # the whole query set
        _collect_garbage(spark)
        lat, cpu = _closed_loop(probe, list(range(self.N_QUERIES)), seconds, self.N_QUERIES)
        x = _vectors(emb_path)
        exact = np.argsort(-(queries @ x.T), axis=1, kind="stable")[:, : self.TOPK]
        recall = statistics.mean(
            len({r["vec_id"] for r in found[i]} & set(exact[i].tolist())) / self.TOPK
            for i in sorted(found)
        )
        return {
            "pipeline_s": build_s,
            "pipeline_cpu_s": build_cpu_s,
            "query_ms": lat,
            "query_cpu_ms": statistics.median(cpu),
            "ops": 5 + len(lat),
            "failed_ops": sum(len(v) != self.TOPK for v in found.values()),
            "answer_quality": recall,
            "found": found,
            "counts": _output_counts(out, [index]),
            "named": {
                "index_build_s": build_s,
                "probe_p50_ms": statistics.median(lat),
                "probes": len(lat),
                "recall_at_10": recall,
            },
        }

    def check(self, work: str, inputs: dict, res: dict) -> dict[str, bool]:
        out = os.path.join(work, "out")
        emb = _read(os.path.join(out, "doc_embeddings"))
        vecs = np.array(emb.embedding.tolist(), dtype=np.float64)
        return {
            "every_document_embedded_once": sorted(emb.doc_id) == list(range(self.N_DOCS)),
            "document_embeddings_are_unit_vectors": bool(np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-4)),
            "index_rows_equal_input_rows": _rows(os.path.join(out, "ivfpq")) == self.N,
            "every_probe_returns_k_rows": all(len(v) == self.TOPK for v in res["found"].values()),
        }


def _vectors(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    col = pq.read_table(path, columns=["vec_id", "embedding"]).sort_by("vec_id")["embedding"]
    flat = col.combine_chunks().values.to_numpy(zero_copy_only=False)
    return flat.reshape(len(col), -1).astype(np.float64)


WORKLOADS = {
    "dashboard_backfill": DashboardBackfill(),
    "vector_index": VectorIndex(),
}
