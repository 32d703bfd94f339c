"""The two closed-loop workloads: their op sequences, set-up and checks.

Each workload is one client thread issuing ops one after another.  The op
sequence is a pure function of the seed (``rounds``): every round holds
each of the workload's op kinds exactly once, in seeded order and with
seeded arguments.  An argument that changes an op's cost by more than its
run-to-run spread is not drawn per round; it is fixed per kind, so every
round holds each cost case in the same proportion.

* ``client_surface`` -- the calls a QCFractal client and its managers wait
  on: ``api`` record/graph/dataset reads and keyset pages, a registry page
  query, an inverse write pair scattered over all buckets of a bucketed
  record-status table (and in a traced run an upsert inside one bucket),
  and a manager claim/return cycle.  Driver planning, per-job scheduling and
  copy-on-write commits dominate; it should not move for scan-kernel gains.
* ``pipeline_batch`` -- registry batch ops: the dedup, similarity and text
  scan kernels, a driver-loop op (and in a traced run the prep-pipeline
  funnel, a second one), and the aggregates that share their ``fan=True``
  scan path.  Executor time, single-task scan stages and driver
  round-trips dominate; write-path changes should not move it.
"""

from __future__ import annotations

import os
import random
from collections import Counter
from dataclasses import dataclass
from datetime import datetime, timedelta

from data import N_CUSTOMER, N_ORDERS

N_STATUS = 7  # a record's status is a function of its id: STATUSES[id % 7]
WRITE_BUCKETS = 8


@dataclass(frozen=True)
class Op:
    kind: str
    args: tuple = ()


# kind -> (family of the call, family of the forced result or None when the
# whole op belongs to the first).  The families are per-layer metric names.
_MUTATE = ("operators.record_status.mutate_s", "sources.table.read_s")
CLIENT_KINDS = {
    "query_records": ("api.query_records_s", None),
    "query_records_next": ("api.query_records_s", None),
    "get_records": ("api.get_records_s", None),
    # the BFS levels run inside the call; the forced result is the api's
    "record_children": ("operators.graph.closure_s", "api.record_children_s"),
    "dataset_status_matrix": ("api.dataset_status_matrix_s", None),
    "record_status_counts": ("api.record_status_counts_s", None),
    "p2_p3_filter_page": ("queries.surface_s", None),
    "mutate": _MUTATE,
    "revert": _MUTATE,
    "upsert": ("sources.table.upsert_s", "sources.table.read_s"),
    "claim_cycle": ("streaming.queue.claim_s", "streaming.queue.return_s"),
}
PIPELINE_KINDS = {
    "dd_minhash_lsh": ("functions.dedup_s", None),
    "sim_ivf_topk": ("functions.similarity_s", None),
    "tx_c4_clean": ("functions.text_s", None),
    "tx_quality_clf": ("functions.text_s", None),
    "u14_doremi": ("functions.text.loop_s", None),
    "pipe_funnel": ("queries.pipe_s", None),
    "a9_argmin": ("queries.surface_s", None),
    "o2_priority_topk": ("queries.surface_s", None),
    "a14_pivot": ("queries.surface_s", None),
}

RECORD_COLS = ["record_type", "status", "manager_name", "created_on",
               "modified_on", "creator_user_id", "spec_id", "molecule_id"]

# Inverse mutation pairs and the statuses (by ``id % 7``: waiting 0,
# running 1, complete 2, error 3, cancelled 4, invalid 5, deleted 6) their
# ids are drawn from.  Running records are left out: a cancelled running
# record reverts to waiting, so the pair would not restore the histogram.
PAIRS = {
    "cancel": ("uncancel", (0, 3)),
    "invalidate": ("uninvalidate", (2,)),
    "delete": ("undelete", (0, 2, 3, 4, 5)),
}


def _ids(rng: random.Random, mods: tuple, n: int, bucket: int | None) -> tuple:
    """Up to ``n`` distinct record ids with ``id % 7`` in ``mods``, and at
    most half of those; all in one bucket when ``bucket`` is set."""
    pool = [i for i in range(N_ORDERS) if i % N_STATUS in mods
            and (bucket is None or i % WRITE_BUCKETS == bucket)]
    return tuple(sorted(rng.sample(pool, min(n, len(pool) // 2))))


# Argument sizes are fixed: a run times two rounds, and sizes drawn per
# round (get_records on 1 or 5,000 ids: 0.3 s or 2 s) would move the
# metrics between seeds more than a change to the program does.  The seed
# draws everything else.
PAGE_ROWS = 100
GET_IDS = 500
CHILD_SEEDS, CHILD_DEPTH = 20, 2
WRITE_IDS = 500
CLAIM_TASKS = 20


def _client_round(rng: random.Random) -> list[list[Op]]:
    from qcfractal_spark.ingest import RECORD_TYPES, STATUSES

    # every filter, the spec join included, is present on every call and the
    # seed draws its values: a new filter shape pays a fresh code generation
    # (a spec join's first call takes 1.5 s, later ones 0.3 s)
    statuses = tuple(sorted(rng.sample(STATUSES, 3)))
    types = tuple(sorted(rng.sample(RECORD_TYPES, 2)))
    managers = tuple(f"manager_{i}" for i in sorted(rng.sample(range(4), 2)))
    start = datetime(1995, 1, 1) + timedelta(days=rng.randrange(2000))
    created = (start, start + timedelta(days=rng.randint(30, 400)))
    program = rng.choice(["prog1", "prog2"])
    # about 2% of the ids are past the last record, so missing rows occur
    get_ids = tuple(rng.randrange(N_ORDERS + N_ORDERS // 50) for _ in range(GET_IDS))
    include = tuple(sorted(rng.sample(RECORD_COLS, rng.randint(1, 4))))
    seeds = tuple(sorted(rng.sample(range(N_CUSTOMER), CHILD_SEEDS)))
    fwd = rng.choice(sorted(PAIRS))
    inv, mods = PAIRS[fwd]
    # the inverse pair spans all buckets and the upsert stays inside one: a
    # scattered commit rewrites every bucket, so which write scatters is
    # fixed rather than drawn
    pair_ids = _ids(rng, mods, WRITE_IDS, None)
    bucket = rng.randrange(WRITE_BUCKETS)
    upsert_ids = tuple(sorted(rng.sample(range(bucket, N_ORDERS, WRITE_BUCKETS), WRITE_IDS)))
    groups = [
        # the next page follows its first page; an inverse follows its write
        [Op("query_records", ((statuses, types, managers, created, program), PAGE_ROWS)),
         Op("query_records_next", (PAGE_ROWS,))],
        [Op("get_records", (get_ids, include))],
        [Op("record_children", (seeds, CHILD_DEPTH))],
        [Op("dataset_status_matrix", (rng.randrange(20),))],
        [Op("record_status_counts")],
        [Op("p2_p3_filter_page")],
        [Op("mutate", (fwd, pair_ids)), Op("revert", (inv, pair_ids))],
        [Op("upsert", (upsert_ids, rng.randint(1, 2)))],
        [Op("claim_cycle", (rng.choice(["*", "t0", "t3"]), CLAIM_TASKS))],
    ]
    rng.shuffle(groups)
    return groups


def _pipeline_round(rng: random.Random) -> list[list[Op]]:
    groups = [[Op(q)] for q in PIPELINE_KINDS]
    rng.shuffle(groups)
    return groups


# name -> (op kinds, round maker, kinds only a traced run has).
# ``pipe_funnel`` (2.7 s a call, 4-7 s on its first) and ``upsert`` (2 s,
# 2.5-5 s on its first) in every round would take a run past the time that a
# set of repeated runs allows, so only the traced run, which reports their
# layers, calls them.
WORKLOADS = {
    "client_surface": (CLIENT_KINDS, _client_round, frozenset({"upsert"})),
    "pipeline_batch": (PIPELINE_KINDS, _pipeline_round, frozenset({"pipe_funnel"})),
}


def rounds(workload: str, seed: int, trace: bool = False):
    """Endless rounds of ``workload``'s ops; a pure function of the seed and
    of ``trace``.  A round is a list of groups: ops that must run together
    and in order (a page and its next page, a write and its inverse), or
    one op.  An untraced round is the traced one without its trace-only
    kinds."""
    _, make, trace_only = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    while True:
        groups = make(rng)
        yield groups if trace else [g for g in groups
                                    if not any(op.kind in trace_only for op in g)]


# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def table_files(paths: list[str]) -> dict:
    """``(dev, inode) -> stat`` of every file under ``paths``, so a file
    hardlinked into a new version is listed once."""
    out = {}
    for p in paths:
        for root, _, files in os.walk(p):
            for name in files:
                st = os.stat(os.path.join(root, name))
                out[(st.st_dev, st.st_ino)] = st
    return out


class OracleCheck:
    """Registry outputs against their DuckDB oracle, compared exactly as
    ``tools/check.py`` does.  The oracle frame depends only on the SQL and
    the generated tables, so it is computed once per checkout and kept."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir, self.cache_dir, self._con = sf_dir, cache_dir, None

    def expected(self, sql: str):
        import hashlib
        import pickle

        key = hashlib.sha1(f"{self.sf_dir}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            from tools.check import duck_connection

            self._con = duck_connection(self.sf_dir)
        frame = self._con.execute(sql).fetchdf()
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "wb") as fh:
            pickle.dump(frame, fh)
        os.replace(tmp, path)
        return frame

    def problems(self, name: str, frame) -> list[str]:
        from qcfractal_spark.queries import REGISTRY
        from tools.check import compare

        return compare(frame, self.expected(REGISTRY[name][1]))


class PipelineBatch:
    """Registry queries, forced with the no-op sink as ``bench.py`` does.

    ``setup`` builds fresh state; ``build`` makes the op's call and returns
    a DataFrame to force (``None`` for a write that ran eagerly); ``force``
    consumes it and returns what a client would receive, or with ``keep``
    whatever ``verify`` needs to say what is wrong with the output.  Checks that hold on every call (a write
    pair restores the status histogram, no task is claimed twice) append to
    ``failures`` as the ops run.  Ops run strictly one after another."""

    def __init__(self, spark, sf_dir: str, scratch: str, oracle: OracleCheck):
        self.spark, self.sf_dir, self.scratch, self.oracle = spark, sf_dir, scratch, oracle
        self.failures: list[str] = []
        self.builds = 0

    def setup(self) -> None:
        import shutil

        from qcfractal_spark.catalog import TABLES, load_table
        from qcfractal_spark.queries import _ivf_index_dir, _scratch_dir

        # footers and schemas of every input, as a resident service has them
        for t in TABLES:
            load_table(self.spark, self.sf_dir, t).schema
        # the persisted IVF index that sim_ivf_topk probes is built at
        # ingest time in a deployment, so it is built here and not by the
        # first op that needs it
        shutil.rmtree(_scratch_dir(self.sf_dir, "ivf_index"), ignore_errors=True)
        _ivf_index_dir(self.spark, self.sf_dir)

    def build(self, op: Op):
        from qcfractal_spark.queries import REGISTRY

        return REGISTRY[op.kind][0](self.spark, self.sf_dir)

    def force(self, op: Op, df, keep: bool = False):
        # a checked op collects its rows instead, so it runs once, not twice
        return df.toPandas() if keep else _noop(df)

    def verify(self, op: Op, result) -> list[str]:
        return self.oracle.problems(op.kind, result)


class ClientSurface(PipelineBatch):
    """The client surface over tables derived from ``orders`` and
    ``lineitem``: ``api`` reads over records, edges and dataset items, and
    writes to a fresh bucketed ``RecordStatusTable`` (the orders-derived
    s13 fixture) with a ``SingleWriterQueue`` over its waiting tasks."""

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from qcfractal_spark import ingest
        from qcfractal_spark.catalog import load_table
        from qcfractal_spark.operators.record_status import RecordStatusTable
        from qcfractal_spark.queries import build_edges
        from qcfractal_spark.session import local_df
        from qcfractal_spark.streaming.queue import SingleWriterQueue

        spark, sf = self.spark, self.sf_dir
        orders = load_table(spark, sf, "orders")
        k, cust = F.col("o_orderkey"), F.col("o_custkey")

        def pick(values, idx):
            return F.element_at(F.array(*map(F.lit, values)), (idx + 1).cast("int"))

        # read side: derived lazily, as the registry derives its tables
        status = pick(ingest.STATUSES, k % N_STATUS)
        rtype = pick(ingest.RECORD_TYPES, k % len(ingest.RECORD_TYPES))
        created = F.col("o_orderdate") + F.make_interval(mins=(k % 1440).cast("int"))
        self.records = orders.select(
            k.alias("id"), rtype.alias("record_type"),
            rtype.isin(*ingest.SERVICE_TYPES).alias("is_service"),
            status.alias("status"),
            F.when(status.isin("running", "complete", "error"),
                   F.concat(F.lit("manager_"), (cust % 4).cast("string")))
            .alias("manager_name"),
            created.alias("created_on"),
            (created + F.make_interval(hours=(k % 7).cast("int"))).alias("modified_on"),
            F.when(k % 5 != 0, k % 5).alias("creator_user_id"),
            (k % 32 + 1).alias("spec_id"), (k % 10 + 1).alias("molecule_id"),
        )
        self.edges = build_edges(spark, sf)
        self.items = load_table(spark, sf, "lineitem").select(
            (F.col("l_suppkey") % 20).alias("dataset_id"),
            F.concat(F.lit("e"), F.col("l_partkey").cast("string")).alias("entry_name"),
            F.concat(F.lit("s"), F.col("l_linenumber").cast("string"))
            .alias("specification_name"),
            F.col("l_orderkey").alias("record_id"),
        )
        # a local relation, so a spec join costs no Python-worker round trip
        specs = ingest.specifications(spark)
        self.specs = local_df(spark, specs.collect(), specs.schema)
        self.page = None  # (filters, cursor) of the last page read

        # write side: the s13 fixture (its status order differs from the
        # read side's: the same id % 7 rule over the mutation module's list)
        st = pick(("waiting", "running", "complete", "error", "cancelled", "invalid",
                   "deleted"), k % N_STATUS)
        svc = k % 50 == 0
        has_task = (~svc) & st.isin("waiting", "running", "error")
        tag = F.concat(F.lit("t"), (cust % 6).cast("string"))
        fixture = orders.select(
            k.alias("record_id"), st.alias("status"), svc.alias("is_service"),
            F.when((st == "running") & ~svc, F.lit("m1")).alias("manager_name"),
            F.when(has_task, tag).alias("compute_tag"),
            F.when(has_task, (cust % 3).cast("int")).alias("compute_priority"),
            F.when(has_task & (st == "waiting"), F.lit(True))
            .when(has_task, F.lit(False)).alias("task_available"),
        )
        self.builds += 1
        path = os.path.join(self.scratch, f"records{self.builds}")
        self.table = RecordStatusTable(spark, path, n_buckets=WRITE_BUCKETS)
        self.fixture = fixture
        self.table.init(fixture)
        self.row_bytes = sum(
            st.st_size for st in table_files(self.table_paths()).values()) / N_ORDERS
        tasks = orders.where((k % N_STATUS == 0) & ~svc).select(
            k.alias("id"), k.alias("record_id"), tag.alias("compute_tag"),
            (cust % 3).cast("int").alias("compute_priority"),
            F.col("o_orderdate").alias("sort_date"), F.lit(True).alias("available"),
            F.array(F.lit("psi4")).alias("required_programs"),
        )
        tasks.write.parquet(os.path.join(path, "tasks"))
        self.queue = SingleWriterQueue(spark.read.parquet(os.path.join(path, "tasks")))
        for tags in ("*", "t0", "t3"):
            self.queue.register_manager(tags, ["psi4"], [tags])
        self.ever_claimed: set[int] = set()
        self.changed_rows = 0
        self.hist = self._histogram(self.table.read().groupBy("status").count())
        self.hist_before = None  # histogram before the pending mutation

    # -- ops ---------------------------------------------------------------

    def build(self, op: Op):
        from pyspark.sql import functions as F

        from qcfractal_spark import api
        from qcfractal_spark.session import local_df

        kind, args = op.kind, op.args
        self.changed_rows = 0
        if kind in ("query_records", "query_records_next"):
            if kind == "query_records":
                filters, limit = args
                cursor = None
            else:
                (filters, cursor), (limit,) = self.page, args
            statuses, types, managers, (after, before), program = filters
            f = api.RecordQueryFilters(
                status=list(statuses), record_type=list(types),
                manager_name=list(managers), created_after=after,
                created_before=before, program=[program], cursor=cursor, limit=limit,
            )
            self.page, self.page_cursor = (filters, cursor), cursor
            return api.query_records(self.records, f, specs=self.specs)
        if kind == "get_records":
            ids, include = args
            return api.get_records(self.spark, self.records, list(ids), include=list(include))
        if kind == "record_children":
            seeds, depth = args
            seed_df = local_df(self.spark, [(3_000_000 + c,) for c in seeds], "id long")
            return api.record_children(seed_df, self.edges, max_depth=depth)
        if kind == "dataset_status_matrix":
            items = self.items.where(F.col("dataset_id") == args[0])
            return api.dataset_status_matrix(items, self.records)
        if kind == "record_status_counts":
            return api.record_status_counts(self.records)
        if kind in ("mutate", "revert"):
            verb, ids = args
            if kind == "mutate":
                self.hist_before = self.hist
            n = getattr(self.table, verb)(list(ids))["n_updated"]
            self.changed_rows = n
            if n != len(ids):
                self.failures.append(f"{verb}: {n} of {len(ids)} ids updated")
            return self.table.read().groupBy("status").count()
        if kind == "upsert":
            # the fixture rows with a new compute priority; their status is
            # the fixture's, which every inverse pair restores
            ids, shift = list(args[0]), args[1]
            self.hist_before = self.hist
            prio = ((F.col("compute_priority") + shift) % 3).cast("int")
            batch = (self.fixture.where(F.col("record_id").isin(ids))
                     .withColumn("compute_priority", prio)
                     .withColumn("_bucket",
                                 F.pmod(F.col("record_id"), F.lit(WRITE_BUCKETS)).cast("int")))
            got = self.table.records.upsert(batch, ["record_id", "_bucket"])
            self.changed_rows = got["updated"]
            if got != {"updated": len(ids), "inserted": 0}:
                self.failures.append(f"upsert of {len(ids)} existing rows: {got}")
            return self.table.read().groupBy("status").count()
        if kind == "claim_cycle":
            manager, limit = args
            claimed = self.queue.claim(manager, limit)
            ids = {t["id"] for t in claimed}
            if len(ids) != len(claimed) or ids & self.ever_claimed:
                self.failures.append("claim_cycle: a task was claimed twice")
            self.ever_claimed |= ids
            self.claimed = (manager, claimed)
            return None
        return super().build(op)

    def force(self, op: Op, df, keep: bool = False):
        kind = op.kind
        if kind == "p2_p3_filter_page":
            return super().force(op, df, keep)
        if kind == "claim_cycle":
            manager, claimed = self.claimed
            for t in claimed:
                self.queue.return_task(manager, t["id"], t["record_id"], ok=True)
            return claimed
        rows = df.collect()  # a client call returns its rows
        if kind in ("mutate", "revert", "upsert"):
            hist = self._histogram(rows)
            if sum(hist.values()) != sum(self.hist.values()):
                self.failures.append(f"{kind}: live row count changed")
            if kind in ("revert", "upsert") and hist != self.hist_before:
                self.failures.append(f"{kind} did not restore the status histogram")
            self.hist = hist
        elif kind.startswith("query_records") and rows:
            self.page = (self.page[0], rows[-1]["id"])
        return rows

    @staticmethod
    def _histogram(rows) -> Counter:
        if not isinstance(rows, list):
            rows = rows.collect()
        return Counter({r["status"]: r["count"] for r in rows})

    def verify(self, op: Op, result) -> list[str]:
        if op.kind == "p2_p3_filter_page":
            return super().verify(op, result)
        rows, out = result, []
        kind, args = op.kind, op.args
        if kind.startswith("query_records"):
            filters = self.page[0]
            limit = args[1] if kind == "query_records" else args[0]
            ids = [r["id"] for r in rows]
            if len(rows) > limit:
                out.append(f"page of {len(rows)} rows over its limit {limit}")
            cursor = self.page_cursor
            if any(a <= b for a, b in zip(ids, ids[1:])) or (
                    cursor is not None and ids and ids[0] >= cursor):
                out.append("page is not strictly keyset-ordered")
            if any(r["status"] not in filters[0] or r["record_type"] not in filters[1]
                   for r in rows):
                out.append("page row outside its filters")
        elif kind == "get_records":
            if [r["id"] for r in rows] != list(args[0]):
                out.append("get_records rows are not the requested ids in order")
        elif kind == "record_children":
            ids = [r["id"] for r in rows]
            if len(ids) != len(set(ids)) or any(i < 4_000_000 for i in ids):
                out.append("record_children returned duplicate or non-descendant ids")
        elif kind in ("dataset_status_matrix", "record_status_counts"):
            from pyspark.sql import functions as F

            base = (self.items.where(F.col("dataset_id") == args[0])
                    if args else self.records)
            got, want = sum(r["count"] for r in rows), base.count()
            if got != want:
                out.append(f"status counts sum to {got}, not the row count {want}")
        return out

    def table_paths(self) -> list[str]:
        return [self.table.records.path, self.table.backup.path]

    def versions(self) -> int:
        return len(self.table.records.history()) + len(self.table.backup.history())


CLASSES = {"client_surface": ClientSurface, "pipeline_batch": PipelineBatch}
