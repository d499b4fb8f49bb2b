"""The benchmark workloads and the parts they are made of.

Each part is one closed-loop client: ``setup`` builds the starting
state, ``cycle`` lands one seeded change and brings every derived
structure current, and ``check`` compares the final state with an
independent recompute. A cycle has three timed phases, reported under
the same names by every workload (a phase's sample is its total over the
cycle):

- ``write``: land the change in the base tables;
- ``refresh``: bring every derived table or index current;
- ``read``: serve reads from the current state.

Spans (``run.tracer.span``) wrap each call into a public engine function;
they are no-ops unless the run is traced. Checks and traced-run counters
run outside the timed phases.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import gen
from de_final_project_spark.operators.txlog import VersionedTable
from de_final_project_spark.schemas import SOURCE_PRIMARY_KEYS


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def parquet_rows(path: str) -> int:
    """Row count from parquet footers: no Spark job."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(root, f)).num_rows
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


# ----------------------------------------------------------------------
# elt_pipeline
# ----------------------------------------------------------------------


class EltPipeline:
    """Why: the paper's own path. The cold build (inside setup) is the
    path that grows with data volume: CSV bronze, the keep-latest
    exchange, the joins. The cycles are bound by fixed cost and history:
    11 watermark probes, and every fact recomputed over the whole lake.
    No txlog involved."""

    name = "elt_pipeline"
    spans = ("build.ingest_cycle", "build.rebuild", "cycle.ingest_cycle", "cycle.rebuild")
    counter_names = ("cycle.gold_rows_per_changed_row", "cycle.bronze_mb", "cycle.gold_mb")
    # Share of the sf0.1 ToteSys derivation. At sf0.1 the cold build alone
    # takes 38-54 s on 4 cores; below it both the build and a cycle are
    # bound by per-job cost, so the small scale keeps their shape.
    SCALE = 0.02
    # Star queries served per cycle: one query is under a second, so a
    # single one would let one scheduling hiccup set read_p50_s.
    READS = 3
    # source table -> (gold table, gold key, gold column of the MUTATED
    # attribute); department lives in gold only through the staff join
    GOLD_OF = {
        "address": ("dim_location", "location_id", "phone"),
        "counterparty": ("dim_counterparty", "counterparty_id", "counterparty_legal_name"),
        "currency": ("dim_currency", "currency_id", "currency_code"),
        "design": ("dim_design", "design_id", "design_name"),
        "payment_type": ("dim_payment_type", "payment_type_id", "payment_type_name"),
        "staff": ("dim_staff", "staff_id", "email_address"),
        "transaction": ("dim_transaction", "transaction_id", "transaction_type"),
        "payment": ("fact_payment", "payment_id", "payment_amount"),
        "purchase_order": ("fact_purchase_order", "purchase_order_id", "item_quantity"),
        "sales_order": ("fact_sales_order", "sales_order_id", "units_sold"),
    }

    def setup(self, run) -> None:
        from de_final_project_spark.plans.rebuild import ingest_cycle, rebuild
        from de_final_project_spark.sources.readers import read_parquet_table
        from de_final_project_spark.sources.watermark import WatermarkStore

        spark, seed = run.spark, run.seed
        self.lake = os.path.join(run.dir, "lake")
        self.gold = os.path.join(run.dir, "gold")
        self.store = WatermarkStore(os.path.join(run.dir, "watermarks.json"))
        self.sources = {
            t: gen.totesys_base(spark, seed, self.SCALE, t) for t in gen.SF01_ROWS
        }
        self.last_change: dict[str, object] = {}
        self.touches = {t: 0 for t in gen.FACT_TABLES}  # cycles that added fact keys
        self.gold_rows = self.changed_rows = 0
        self.bronze_b = self.gold_b = 0
        with run.tracer.span("build.ingest_cycle"):
            changed = ingest_cycle(self.sources, self.lake, self.store, "b0000")
        with run.tracer.span("build.rebuild"):
            rebuild(spark, self.lake, self.gold, changed)
        run.check("cold build ingests every table", sorted(changed) == sorted(gen.SF01_ROWS))
        # warm-up: the read phase's query is compiled once here, not in
        # the first timed cycle
        run.check("cold build star query returns rows",
                  bool(self._star_query(spark, read_parquet_table)))

    def cycle(self, run, i: int) -> None:
        from de_final_project_spark.plans.rebuild import ingest_cycle, rebuild
        from de_final_project_spark.sources.readers import read_parquet_table

        spark, seed = run.spark, run.seed
        # Each cycle is one scheduled invocation; in the reference every
        # invocation is a fresh process, so no cached data crosses cycles.
        # A long-lived session must drop it between batches (see
        # operators/neardup.py), or rebuild is served the persisted frames
        # of the previous one (README, "Known defects").
        spark.catalog.clearCache()
        tables = gen.cycle_tables(seed, i)
        for t in tables:
            change = gen.totesys_change(spark, seed, self.SCALE, t, i)
            self.sources[t] = self.sources[t].unionByName(change)
            self.last_change[t] = change
            if t in gen.FACT_TABLES:
                self.touches[t] += 1
        batch = f"c{i:04d}"
        changed: list[str] = []
        written: list[str] = []
        with run.phase("write"), run.tracer.span("cycle.ingest_cycle"):
            changed = run.op(lambda: ingest_cycle(self.sources, self.lake, self.store, batch)) or []
        with run.phase("refresh"), run.tracer.span("cycle.rebuild"):
            written = run.op(lambda: rebuild(spark, self.lake, self.gold, changed)) or []
        with run.phase("read"):
            # star queries over the fresh gold zone, through the engine's reader
            rows = [run.op(lambda: self._star_query(spark, read_parquet_table))
                    for _ in range(self.READS)]
        run.check(f"cycle {i} ingests the changed tables",
                  set(changed) <= set(tables) and set(gen.FACT_TABLES) & set(tables) <= set(changed))
        run.check(f"cycle {i} star queries return rows", all(rows))
        if run.traced:
            bronze = [os.path.join(self.lake, t, f"batch_ts={batch}") for t in changed]
            self.bronze_b += sum(dir_bytes(p) for p in bronze)
            self.changed_rows += sum(
                sum(1 for _ in open(os.path.join(p, f))) - 1
                for p in bronze for f in os.listdir(p) if f.endswith(".csv")
            )
            self.gold_b += sum(dir_bytes(os.path.join(self.gold, t)) for t in written)
            self.gold_rows += sum(parquet_rows(os.path.join(self.gold, t)) for t in written)

    def _star_query(self, spark, read):
        g = lambda t: read(spark, os.path.join(self.gold, t))  # noqa: E731
        fact, dd, design = g("fact_sales_order"), g("dim_date"), g("dim_design")
        return (
            fact.join(dd, fact.created_date == dd.date_id)
            .join(design, "design_id")
            .groupBy("year", "month", "design_name")
            .agg(F.sum(F.col("units_sold") * F.col("unit_price")).alias("revenue"))
            .orderBy(F.desc("revenue"))
            .limit(10)
            .collect()
        )

    def check(self, run) -> None:
        n = gen.table_rows(self.SCALE)
        for src, (gold, key, col) in self.GOLD_OF.items():
            want = n[src]
            if src in gen.FACT_TABLES:
                want += self.touches[src] * max(1, n[src] // 500)
            got = parquet_rows(os.path.join(self.gold, gold))
            run.check(f"{gold} rows == distinct {src} keys ({got} vs {want})", got == want)
        for src, change in self.last_change.items():
            if src not in self.GOLD_OF:
                continue
            gold, key, col = self.GOLD_OF[src]
            g = run.spark.read.parquet(os.path.join(self.gold, gold)).select(
                F.col(key).alias("_k"), F.col(col).alias("_g")
            )
            mismatched = (
                change.select(F.col(SOURCE_PRIMARY_KEYS[src]).alias("_k"), F.col(gen.MUTATED[src][0]).alias("_c"))
                .join(g, "_k", "left")
                .where(~F.col("_c").eqNullSafe(F.col("_g")))
                .count()
            )
            run.check(f"latest {src} changes appear in {gold} ({mismatched} mismatched)", mismatched == 0)

    def counters(self, run) -> dict[str, float]:
        cycles = max(1, len(run.samples["cycle"]))
        return {
            "cycle.gold_rows_per_changed_row": self.gold_rows / max(1, self.changed_rows),
            "cycle.bronze_mb": self.bronze_b / 1e6 / cycles,
            "cycle.gold_mb": self.gold_b / 1e6 / cycles,
        }


# ----------------------------------------------------------------------
# txlog_stream = CommitStream + IndexRefresh
# ----------------------------------------------------------------------


class CommitStream:
    """The commit protocol and the incremental-view core, with writes and
    reads on the same table; plans compute is almost absent. Each cycle
    lands one append, one keyed merge and one merge-on-read delete,
    refreshes a delta-kind (count/sum) and a rescan-kind (min/max) view,
    and serves point, scan and view reads."""

    spans = (
        "append", "merge", "delete", "refresh.delta_view", "refresh.rescan_view",
        "read.point", "read.scan", "read.view",
    )
    counter_names = (
        "txlog.log_bytes_per_commit", "txlog.data_mb_per_commit", "txlog.live_files",
        "read.point.files_skipped_frac", "refresh.delta_frac",
    )
    N_EVENTS = 20_000

    def setup(self, run) -> None:
        from de_final_project_spark.operators.ivm import IncrementalAggView

        spark, seed = run.spark, run.seed
        self.path = os.path.join(run.dir, "events")
        self.base = VersionedTable(
            self.path, partition_col="pbucket", stats_cols=["event_id", "user_id"]
        )
        self.base.overwrite(gen.events(spark, seed, (0, self.N_EVENTS)))
        self.schema = self.base.read(spark).dtypes
        self.mix = gen.CommitMix(seed, self.N_EVENTS)
        self.delta_view = IncrementalAggView(
            self.base, os.path.join(run.dir, "mv_delta"), keys=["event_id"],
            group_by=["event_type"],
            aggs={"cnt": ("count", ""), "sum_value": ("sum", "value")},
        )
        self.rescan_view = IncrementalAggView(
            self.base, os.path.join(run.dir, "mv_rescan"), keys=["event_id"],
            group_by=["user_id"],
            aggs={"cnt": ("count", ""), "min_value": ("min", "value"),
                  "max_value": ("max", "value")},
        )
        for view in (self.delta_view, self.rescan_view):
            run.check("view full build", view.refresh(spark)["mode"] == "full")
        self.log_b, self.data_b, self.commits = 0, 0, 0
        self.modes: list[str] = []
        self.skipped: list[float] = []

    def _commit(self, run, span: str, fn) -> None:
        log0 = dir_bytes(os.path.join(self.path, "_txlog")) if run.traced else 0
        data0 = dir_bytes(os.path.join(self.path, "data")) if run.traced else 0
        with run.tracer.span(span):
            run.op(fn)
        if run.traced:
            self.log_b += dir_bytes(os.path.join(self.path, "_txlog")) - log0
            self.data_b += dir_bytes(os.path.join(self.path, "data")) - data0
            self.commits += 1

    def cycle(self, run, i: int) -> None:
        spark, seed = run.spark, run.seed
        mix = self.mix
        appended = gen.events(spark, seed, mix.append_ids())
        merged = gen.events(spark, seed, mix.merge_ids(), version=i)
        gone = mix.delete_ids()
        pred = "event_id IN (%s)" % ", ".join(map(str, gone))
        with run.phase("write"):
            self._commit(run, "append", lambda: self.base.append(appended))
            self._commit(run, "merge", lambda: self.base.merge(spark, merged, ["event_id"]))
            self._commit(run, "delete", lambda: self.base.delete_where(spark, pred, mode="mor"))
        reports = []
        with run.phase("refresh"):
            with run.tracer.span("refresh.delta_view"):
                reports.append(run.op(lambda: self.delta_view.refresh(spark)))
            with run.tracer.span("refresh.rescan_view"):
                reports.append(run.op(lambda: self.rescan_view.refresh(spark)))
        points = mix.point_ids()
        got_points = []
        with run.phase("read"):
            for x in points:
                with run.tracer.span("read.point"):
                    got_points.append(run.op(
                        lambda: self.base.read(spark, where=f"event_id = {x}").collect()
                    ))
            with run.tracer.span("read.scan"):
                scan = run.op(lambda: self.base.read(spark).agg(F.count(F.lit(1))).collect())
            with run.tracer.span("read.view"):
                view = run.op(lambda: self.delta_view.read(spark).collect())
        run.check(f"cycle {i} point reads find each live key",
                  all(r is not None and len(r) == 1 for r in got_points))
        run.check(f"cycle {i} scan count matches the model",
                  scan is not None and scan[0][0] == len(mix.live))
        run.check(f"cycle {i} view count matches the model",
                  view is not None and sum(r["cnt"] for r in view) == len(mix.live))
        run.check(f"cycle {i} table schema unchanged", self.base.read(spark).dtypes == self.schema)
        if run.traced:
            self.modes += [r["mode"] if r else "failed" for r in reports]
            for x in points:
                rep = self.base.prune_report(f"event_id = {x}")
                if rep["files_total"]:
                    self.skipped.append(1 - rep["files_scanned"] / rep["files_total"])

    def check(self, run) -> None:
        spark = run.spark
        for view in (self.delta_view, self.rescan_view):
            run.check(f"{view.mv.path} equals a full re-aggregation", view.verify(spark))
        keys = {r[0] for r in self.base.read(spark).select("event_id").collect()}
        run.check("final key set equals the generator's model", keys == self.mix.live)

    def counters(self, run) -> dict[str, float]:
        live = self.base.prune_report("event_id >= 0")["files_total"]
        return {
            "txlog.log_bytes_per_commit": self.log_b / max(1, self.commits),
            "txlog.data_mb_per_commit": self.data_b / 1e6 / max(1, self.commits),
            "txlog.live_files": live,
            "read.point.files_skipped_frac": sum(self.skipped) / max(1, len(self.skipped)),
            "refresh.delta_frac": sum(m in ("delta", "rescan") for m in self.modes)
            / max(1, len(self.modes)),
        }


class IndexRefresh:
    """The three incremental indexes: the pair scorers at the Arrow
    boundary, sibling commits through run_concurrently, and the heaviest
    refreshes in past runs (near-dup, SemDeDup). Insert-only doc and
    vector batches, doc batches seeded with near-copies so candidate
    verification does real work, BM25 top-k searches after each refresh."""

    spans = (
        "doc_append", "neardup.refresh", "bm25.refresh", "emb_append",
        "semdedup.refresh", "bm25.topk",
    )
    counter_names = (
        "neardup.signed_per_batch_doc", "neardup.candidate_yield",
        "semdedup.assigned_per_batch_vec", "index.commits_per_refresh",
    )
    N_DOCS, N_VECS, DOC_BATCH, VEC_BATCH = 1000, 600, 40, 20

    def setup(self, run) -> None:
        from de_final_project_spark.operators.neardup import IncrementalNearDupIndex
        from de_final_project_spark.operators.searchidx import IncrementalPostingIndex
        from de_final_project_spark.operators.semdedup import IncrementalSemDedup

        spark, seed = run.spark, run.seed
        self.docs = VersionedTable(os.path.join(run.dir, "documents"))
        self.emb = VersionedTable(os.path.join(run.dir, "embeddings"))
        self.docs.overwrite(gen.documents_base(spark, seed, self.N_DOCS))
        self.emb.overwrite(gen.embeddings_base(spark, seed, self.N_VECS))
        self.nd = IncrementalNearDupIndex(self.docs, os.path.join(run.dir, "neardup"))
        self.bm = IncrementalPostingIndex(self.docs, os.path.join(run.dir, "bm25"))
        self.sd = IncrementalSemDedup(self.emb, os.path.join(run.dir, "semdedup"))
        for idx in (self.nd, self.bm, self.sd):
            run.check("index build", idx.refresh(spark)["mode"] == "build")
        self.next_doc, self.next_vec = self.N_DOCS, self.N_VECS
        self.signed = self.cands = self.verified = self.assigned = 0
        self.doc_rows = self.vec_rows = self.refreshes = self.index_commits = 0

    def _tables(self):
        return (self.nd.index, self.nd.verdicts, self.bm.postings, self.bm.doclens,
                self.sd.index, self.sd.verdicts, self.sd.cents)

    def cycle(self, run, i: int) -> None:
        spark, seed = run.spark, run.seed
        docs = gen.documents_batch(spark, seed, i, self.next_doc, self.DOC_BATCH, self.N_DOCS)
        vecs = gen.embeddings_batch(spark, seed, self.next_vec, self.VEC_BATCH)
        self.next_doc += self.DOC_BATCH
        self.next_vec += self.VEC_BATCH
        if run.traced:
            heads0 = [t.latest_version() or 0 for t in self._tables()]
            verdicts0 = self.nd.read_verdicts(spark).count()
        with run.phase("write"):
            with run.tracer.span("doc_append"):
                run.op(lambda: self.docs.append(docs))
            with run.tracer.span("emb_append"):
                run.op(lambda: self.emb.append(vecs))
        with run.phase("refresh"):
            with run.tracer.span("neardup.refresh"):
                nd = run.op(lambda: self.nd.refresh(spark))
            with run.tracer.span("bm25.refresh"):
                bm = run.op(lambda: self.bm.refresh(spark))
            with run.tracer.span("semdedup.refresh"):
                sd = run.op(lambda: self.sd.refresh(spark))
        with run.phase("read"):
            for q in gen.search_queries(seed, i, n=2):
                with run.tracer.span("bm25.topk"):
                    hits = run.op(lambda: self.bm.bm25_topk(spark, q).collect())
                run.check(f"cycle {i} search {q} returns ranked docs", bool(hits))
        for label, rep in (("neardup", nd), ("bm25", bm), ("semdedup", sd)):
            run.check(f"cycle {i} {label} refresh is incremental", bool(rep) and rep["mode"] == "delta")
        if run.traced and nd and sd:
            self.signed += nd["signed_docs"]
            self.cands += nd["n_candidates"]
            self.verified += self.nd.read_verdicts(spark).count() - verdicts0
            self.assigned += sd["assigned"]
            self.doc_rows += self.DOC_BATCH
            self.vec_rows += self.VEC_BATCH
            self.refreshes += 3
            self.index_commits += sum(
                (t.latest_version() or 0) - h for t, h in zip(self._tables(), heads0)
            )

    def check(self, run) -> None:
        from de_final_project_spark.functions.vector import dot
        from de_final_project_spark.operators.corpusops import bm25_scores
        from de_final_project_spark.operators.kmeans import assign_cells
        from de_final_project_spark.operators.neardup import neardup_pairs_minhash
        from de_final_project_spark.operators.semdedup import SEMDEDUP_COSINE_THRESHOLD
        from de_final_project_spark.operators.similarity import unit_vectors

        spark = run.spark
        # the batch operators read "<dir>/documents.parquet"
        final = os.path.join(run.dir, "final")
        self.docs.read(spark).write.parquet(os.path.join(final, "documents.parquet"))
        got = [tuple(r) for r in self.bm.bm25_topk(spark).collect()]
        want = [tuple(r) for r in bm25_scores(spark, final).collect()]
        run.check("BM25 top-k equals the batch recompute", got == want)
        got = {tuple(r) for r in self.nd.read_verdicts(spark).select("a_id", "b_id", "jaccard").collect()}
        want = {tuple(r) for r in neardup_pairs_minhash(spark, final).collect()}
        run.check(f"near-dup verdicts equal the batch recompute ({len(got)} vs {len(want)})", got == want)
        # SemDeDup: judge the final corpus in one shot under the index's
        # frozen centroids; arrival boundaries must not matter
        full = self.emb.read(spark)
        rows = (
            assign_cells(self.sd._quantize(full), self.sd._frozen(spark), out="cluster")
            .select("vec_id", F.col("cluster").cast("long").alias("cluster"))
            .join(unit_vectors(full), "vec_id")
        )
        a = rows.select(F.col("vec_id").alias("a_id"), "cluster", F.col("u").alias("u_a"))
        b = rows.select(F.col("vec_id").alias("b_id"), "cluster", F.col("u").alias("u_b"))
        dropped = (
            a.join(b, "cluster")
            .where(F.col("a_id") < F.col("b_id"))
            .where(F.round(dot(F.col("u_a"), F.col("u_b")), 6) >= SEMDEDUP_COSINE_THRESHOLD)
            .select(F.col("b_id").alias("vec_id")).distinct()
            .withColumn("_d", F.lit(True))
        )
        want = {
            tuple(r) for r in rows.join(dropped, "vec_id", "left")
            .select("vec_id", "cluster", F.col("_d").isNull()).collect()
        }
        got = {tuple(r) for r in self.sd.read_verdicts(spark).select("vec_id", "cluster", "kept").collect()}
        run.check(f"SemDeDup verdicts equal the batch recompute ({len(got)} rows)", got == want)

    def counters(self, run) -> dict[str, float]:
        return {
            "neardup.signed_per_batch_doc": self.signed / max(1, self.doc_rows),
            "neardup.candidate_yield": self.verified / max(1, self.cands),
            "semdedup.assigned_per_batch_vec": self.assigned / max(1, self.vec_rows),
            "index.commits_per_refresh": self.index_commits / max(1, self.refreshes),
        }


class TxlogStream:
    """Why: every layer built on the transaction log, which elt_pipeline
    never touches -- the commit protocol, the incremental views and the
    three incremental indexes -- driven through one session: each cycle
    runs a CommitStream cycle, then an IndexRefresh cycle. One workload
    instead of two halves the session starts and fixed set-up a run pays,
    which is what lets both fit the benchmark's run budget."""

    name = "txlog_stream"
    parts = (CommitStream, IndexRefresh)
    spans = CommitStream.spans + IndexRefresh.spans
    counter_names = CommitStream.counter_names + IndexRefresh.counter_names

    def __init__(self):
        self._parts = [p() for p in self.parts]

    def setup(self, run) -> None:
        for p in self._parts:
            p.setup(run)

    def cycle(self, run, i: int) -> None:
        for p in self._parts:
            p.cycle(run, i)

    def check(self, run) -> None:
        # the parts' checks share nothing: run them side by side (the
        # checks are outside every timed region)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(len(self._parts)) as pool:
            for f in [pool.submit(run.op, lambda p=p: p.check(run)) for p in self._parts]:
                f.result()

    def counters(self, run) -> dict[str, float]:
        return {k: v for p in self._parts for k, v in p.counters(run).items()}


WORKLOADS = {w.name: w for w in (EltPipeline, TxlogStream)}
