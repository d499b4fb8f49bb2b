"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (and of the cycle or
batch number): the same seed yields the same rows on every run. Rows are
built with Spark SQL hash expressions over ``spark.range`` so generation
is distributed and needs no driver-side loops; the engine only ever sees
the resulting DataFrames.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from de_final_project_spark.schemas import SOURCE_PRIMARY_KEYS, SOURCE_SCHEMAS

# ----------------------------------------------------------------------
# ToteSys OLTP tables (elt_pipeline)
# ----------------------------------------------------------------------

T0 = 1704067200  # 2024-01-01 00:00:00 UTC, epoch seconds
HISTORY_S = 30 * 86400  # base rows are stamped inside the first 30 days
CYCLE_START = T0 + 40 * 86400  # first "20-minute" cycle, after all history
CYCLE_S = 1200

FACT_TABLES = ("payment", "purchase_order", "sales_order")
DIM_TABLES = (
    "address", "counterparty", "currency", "department", "design",
    "payment_type", "staff", "transaction",
)

# Rows per table at scale 1.0: the sf0.1 derivation of the ToteSys
# bronze (orders -> sales_order/payment/transaction, lineitem ->
# purchase_order, customer -> address, part -> design, supplier ->
# counterparty/staff).
SF01_ROWS = {
    "address": 15_000, "counterparty": 1_000, "currency": 5,
    "department": 25, "design": 20_000, "payment_type": 5,
    "staff": 1_000, "transaction": 150_000, "payment": 150_000,
    "purchase_order": 600_000, "sales_order": 150_000,
}
# Tables whose row count does not scale (code lists).
FIXED_ROWS = ("currency", "department", "payment_type")


def table_rows(scale: float) -> dict[str, int]:
    return {
        t: n if t in FIXED_ROWS else max(20, int(n * scale))
        for t, n in SF01_ROWS.items()
    }


def _h(seed: int, salt: str, mod: int) -> str:
    """SQL for a seeded hash of the row key ``k`` in [0, mod)."""
    return f"pmod(xxhash64({seed}, '{salt}', k), {mod})"


def _ts(sec_sql: str) -> str:
    return f"timestamp_seconds({sec_sql})"


# The one attribute each cycle rewrites per table, as SQL over the row
# (``k`` is its key); ``{c}`` is the cycle number, 0 for the in-history
# restatement that gives some keys a second version. Each maps to one gold
# column, which the correctness check compares (workloads.EltPipeline.GOLD_OF).
MUTATED = {
    "address": ("phone", "concat('M{c}-', k)"),
    "counterparty": ("counterparty_legal_name", "concat('Counterparty ', k, ' r{c}')"),
    "currency": ("currency_code", "concat('C{c}-', k)"),
    "department": ("department_name", "concat('Dept-', k, '-r{c}')"),
    "design": ("design_name", "concat('Design ', k, ' r{c}')"),
    "payment_type": ("payment_type_name", "concat('PT-', k, '-r{c}')"),
    "staff": ("email_address", "concat('c{c}.s', k, '@totesys.example')"),
    "transaction": ("transaction_type", "concat('REFUND-{c}')"),
    "payment": ("payment_amount", "round(payment_amount + {c} + 0.25, 2)"),
    "purchase_order": ("item_quantity", "item_quantity + 1000 * ({c} + 1)"),
    "sales_order": ("units_sold", "units_sold + 100 * ({c} + 1)"),
}


def _columns(table: str, seed: int, n: dict[str, int], lu_sql: str) -> dict[str, str]:
    """Column name -> SQL over ``k`` for one ToteSys table."""
    h = lambda salt, mod: _h(seed, f"{table}.{salt}", mod)  # noqa: E731
    fk = lambda t, salt: f"({h(salt, n[t])} + 1)"  # noqa: E731
    lu = _ts(lu_sql)
    # created_at precedes the FIRST version's stamp; stable across versions
    created = _ts(f"{T0} + {_h(seed, table + '.ts', HISTORY_S)} - {h('cr', 7 * 86400)}")
    created_d = f"to_date({created})"
    if table == "address":
        return {
            "address_id": "k",
            "address_line_1": "concat('Line ', k)",
            "address_line_2": f"CASE WHEN k % 3 = 0 THEN NULL ELSE concat('Suite ', {h('a2', 100)}) END",
            "district": f"concat('District-', {h('d', 20)})",
            "city": f"concat('City-', {h('c', 50)})",
            "postal_code": f"lpad(CAST({h('p', 100000)} AS STRING), 5, '0')",
            "country": f"concat('Country-', {h('co', 25)})",
            "phone": f"concat({h('ph', 1000)}, '-', k)",
            "last_updated": lu,
        }
    if table == "counterparty":
        return {
            "counterparty_id": "k",
            "counterparty_legal_name": "concat('Counterparty ', k)",
            "legal_address_id": fk("address", "la"),
            "last_updated": lu,
        }
    if table == "currency":
        return {
            "currency_id": "k",
            "currency_code": "element_at(array('GBP', 'USD', 'EUR', 'JPY', 'CHF'), CAST(pmod(k - 1, 5) + 1 AS INT))",
            "last_updated": lu,
        }
    if table == "department":
        return {
            "department_id": "k",
            "department_name": "concat('Dept-', k)",
            "location": f"concat('Building-', {h('l', 5)})",
            "last_updated": lu,
        }
    if table == "design":
        return {
            "design_id": "k",
            "design_name": "concat('Design ', k)",
            "file_location": f"concat('/designs/', {h('fl', 10)})",
            "file_name": "concat('design-', k, '.json')",
            "last_updated": lu,
        }
    if table == "payment_type":
        return {
            "payment_type_id": "k",
            "payment_type_name": "concat('PT-', k)",
            "last_updated": lu,
        }
    if table == "staff":
        return {
            "staff_id": "k",
            "first_name": f"concat('Agent-', {h('f', 20)})",
            "last_name": "concat('S', k)",
            "department_id": fk("department", "dp"),
            "email_address": "concat('s', k, '@totesys.example')",
            "last_updated": lu,
        }
    if table == "transaction":
        return {
            "transaction_id": "k",
            "transaction_type": "CASE WHEN k % 2 = 0 THEN 'SALE' ELSE 'PURCHASE' END",
            "sales_order_id": f"CASE WHEN k % 2 = 0 THEN {fk('sales_order', 'so')} END",
            "purchase_order_id": f"CASE WHEN k % 2 = 1 THEN {fk('purchase_order', 'po')} END",
            "last_updated": lu,
        }
    if table == "payment":
        return {
            "payment_id": "k",
            "created_at": created,
            "last_updated": lu,
            "transaction_id": fk("transaction", "t"),
            "counterparty_id": fk("counterparty", "cp"),
            "payment_amount": f"round({h('am', 10_000_000)} / 100.0, 2)",
            "currency_id": fk("currency", "cu"),
            "payment_type_id": fk("payment_type", "pt"),
            "paid": f"{h('pd', 2)} = 0",
            "payment_date": f"date_add({created_d}, CAST({h('pdd', 30)} AS INT))",
        }
    if table == "purchase_order":
        return {
            "purchase_order_id": "k",
            "created_at": created,
            "last_updated": lu,
            "staff_id": fk("staff", "st"),
            "counterparty_id": fk("counterparty", "cp"),
            "item_code": f"concat('ITEM-', lpad(CAST({h('ic', 20000)} AS STRING), 7, '0'))",
            "item_quantity": f"{h('q', 100)} + 1",
            "item_unit_price": f"round({h('up', 100000)} / 100.0, 2)",
            "currency_id": fk("currency", "cu"),
            "agreed_delivery_date": f"date_add({created_d}, CAST({h('ad', 14)} AS INT))",
            "agreed_payment_date": f"date_add({created_d}, 30)",
            "agreed_delivery_location_id": fk("address", "adl"),
        }
    if table == "sales_order":
        return {
            "sales_order_id": "k",
            "created_at": created,
            "last_updated": lu,
            "design_id": fk("design", "de"),
            "staff_id": fk("staff", "st"),
            "counterparty_id": fk("counterparty", "cp"),
            "units_sold": f"{h('us', 50)} + 1",
            "unit_price": f"round({h('up', 100000)} / 100.0, 2)",
            "currency_id": fk("currency", "cu"),
            "agreed_delivery_date": f"date_add({created_d}, CAST({h('ad', 21)} AS INT))",
            "agreed_payment_date": f"date_add({created_d}, CAST({h('ap', 14)} AS INT))",
            "agreed_delivery_location_id": fk("address", "adl"),
        }
    raise KeyError(table)


def _frame(
    keys: DataFrame, table: str, seed: int, n: dict[str, int], lu_sql: str,
    cycle: int | None,
) -> DataFrame:
    """Rows for the keys in ``keys`` (column ``k``), stamped ``lu_sql``;
    with ``cycle`` set, the table's MUTATED attribute is rewritten. Cast to
    the source schema, so a change batch can never drift the stored types."""
    cols = _columns(table, seed, n, lu_sql)
    df = keys.selectExpr(*[f"{sql} AS `{c}`" for c, sql in cols.items()])
    if cycle is not None:
        col, sql = MUTATED[table]
        df = df.withColumn("k", F.col(SOURCE_PRIMARY_KEYS[table])).withColumn(
            col, F.expr(sql.format(c=cycle))
        ).drop("k")
    schema = SOURCE_SCHEMAS[table]
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])


def totesys_base(spark: SparkSession, seed: int, scale: float, table: str) -> DataFrame:
    """Initial OLTP extract of one table: every key once, and 10% of keys
    with a second, later in-history version (the restatement)."""
    n = table_rows(scale)
    keys = spark.range(1, n[table] + 1).withColumnRenamed("id", "k")
    v0 = f"{T0} + {_h(seed, table + '.ts', HISTORY_S)}"
    v1 = f"{v0} + 86400 + {_h(seed, table + '.v1', 3600)}"
    restated = keys.where(F.expr(f"{_h(seed, table + '.ver', 10)} = 0"))
    return _frame(keys, table, seed, n, v0, None).unionByName(
        _frame(restated, table, seed, n, v1, 0)
    )


def cycle_tables(seed: int, cycle: int) -> list[str]:
    """Tables a cycle changes: a seeded 2 of the 3 fact sources (so every
    cycle rebuilds the facts and the cycle time is not bimodal) and a
    seeded 3 of the 8 dimension sources. The counts are fixed so that the
    work per cycle does not swing with the seed."""
    rng = random.Random(seed * 100_003 + cycle)
    return rng.sample(FACT_TABLES, 2) + rng.sample(DIM_TABLES, 3)


def totesys_change(
    spark: SparkSession, seed: int, scale: float, table: str, cycle: int
) -> DataFrame:
    """Change set of one table for one cycle: ~1% of keys restated with a
    new MUTATED value, plus (fact sources) 0.2% new keys. Stamps lie in
    the cycle's own 20-minute window, strictly after every earlier stamp:
    a change stamped at or below the stored watermark would be skipped
    by ingest as "no change"."""
    n = table_rows(scale)
    lu = f"{CYCLE_START + cycle * CYCLE_S} + {_h(seed, f'{table}.c{cycle}.lu', CYCLE_S)}"
    # ~1% of keys; code-list tables (5-25 rows) restate ~1 in 5
    mod = 100 if n[table] >= 1000 else 5
    keys = spark.range(1, n[table] + 1).withColumnRenamed("id", "k").where(
        F.expr(f"{_h(seed, f'{table}.c{cycle}', mod)} = 0")
    )
    out = _frame(keys, table, seed, n, lu, cycle)
    if table in FACT_TABLES:
        per = max(1, n[table] // 500)
        lo = n[table] + (cycle - 1) * per + 1
        new = spark.range(lo, lo + per).withColumnRenamed("id", "k")
        out = out.unionByName(_frame(new, table, seed, n, lu, None))
    return out


# ----------------------------------------------------------------------
# Documents and embeddings (txlog_stream, index part)
# ----------------------------------------------------------------------

VOCAB = [
    "spark", "stream", "batch", "table", "query", "join", "hash", "sort",
    "merge", "scan", "filter", "group", "window", "order", "key", "value",
    "row", "column", "part", "line", "data", "index", "vector", "commit",
    "log", "file", "page", "fast", "slow", "big", "small", "agg", "shuffle",
    "task", "stage", "job", "node", "cache", "disk", "plan",
]
LANGS = ["en", "de", "fr", "zh"]
EMB_DIM = 64
EMB_CENTERS = 10


def _words(seed: int, id_sql: str, salt: str) -> str:
    """SQL array of 12-59 seeded vocabulary words for document ``id_sql``."""
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    n = f"CAST(pmod(xxhash64({seed}, '{salt}.n', {id_sql}), 48) + 12 AS INT)"
    return (
        f"transform(sequence(1, {n}), i -> element_at(array({vocab}), "
        f"CAST(pmod(xxhash64({seed}, '{salt}.w', {id_sql}, i), {len(VOCAB)}) + 1 AS INT)))"
    )


def _doc_frame(ids: DataFrame, text_sql: str, seed: int) -> DataFrame:
    return ids.selectExpr(
        "k AS doc_id",
        f"{text_sql} AS text",
        f"element_at(array({', '.join(repr(x) for x in LANGS)}), "
        f"CAST(pmod(xxhash64({seed}, 'lang', k), {len(LANGS)}) + 1 AS INT)) AS lang",
        f"concat('src', pmod(xxhash64({seed}, 'src', k), 8)) AS source",
    ).withColumn("n_chars", F.length("text").cast("long"))


def documents_base(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Documents 0..n-1 (doc_id, text, lang, source, n_chars)."""
    ids = spark.range(n).withColumnRenamed("id", "k")
    return _doc_frame(ids, f"concat_ws(' ', {_words(seed, 'k', 'doc')})", seed)


def documents_batch(
    spark: SparkSession, seed: int, batch: int, first_id: int, size: int, n_base: int
) -> DataFrame:
    """Insert-only doc batch with NEW ids [first_id, first_id + size).
    Every fourth doc is a near-copy of a seeded base doc with 2-30% of its
    words replaced, so candidate verification sees pairs on both sides of
    the Jaccard threshold."""
    ids = spark.range(first_id, first_id + size).withColumnRenamed("id", "k")
    src = f"pmod(xxhash64({seed}, 'copyof', k), {n_base})"
    rate = f"element_at(array(2, 5, 15, 30), CAST(pmod(xxhash64({seed}, 'rate', k), 4) + 1 AS INT))"
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    copy = (
        f"concat_ws(' ', transform({_words(seed, src, 'doc')}, (w, i) -> "
        f"CASE WHEN pmod(xxhash64({seed}, 'mut', k, i), 100) < {rate} "
        f"THEN element_at(array({vocab}), CAST(pmod(xxhash64({seed}, 'rw', k, i), {len(VOCAB)}) + 1 AS INT)) "
        f"ELSE w END))"
    )
    fresh = f"concat_ws(' ', {_words(seed, 'k', f'doc.b{batch}')})"
    text = f"CASE WHEN pmod(k, 4) = 0 THEN {copy} ELSE {fresh} END"
    return _doc_frame(ids, text, seed)


def _emb_frame(ids: DataFrame, seed: int, copies_of: int | None = None) -> DataFrame:
    """64-dim float vectors around EMB_CENTERS seeded centers (within-
    center cosine ~0.1, under the SemDeDup threshold), ids in ``k``. With
    ``copies_of`` = n, every fifth vector is instead a lightly perturbed
    copy of a seeded vector among ids < n: a semantic duplicate."""
    src = f"pmod(xxhash64({seed}, 'vcopy', k), {copies_of})" if copies_of else "k"
    center = f"pmod(xxhash64({seed}, 'center', {src}), {EMB_CENTERS})"
    u = lambda salt, by: (  # noqa: E731 - uniform in [-0.5, 0.5)
        f"(pmod(xxhash64({seed}, '{salt}', {by}, d), 1000000) / 1000000.0 - 0.5)"
    )
    body = f"0.15 * {u('c', center)} + 0.5 * {u('n', src)}"
    if copies_of:
        body = f"{body} + CASE WHEN pmod(k, 5) = 0 THEN 0.05 * {u('j', 'k')} ELSE 0.5 * ({u('n', 'k')} - {u('n', src)}) END"
    vec = f"transform(sequence(0, {EMB_DIM - 1}), d -> CAST({body} AS FLOAT))"
    return ids.selectExpr(
        "k AS vec_id", f"{vec} AS embedding", f"CAST({center} AS INT) AS label"
    )


def embeddings_base(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Vectors 0..n-1 (dense ids from 0: the SemDeDup build trains on the
    id prefix and seeds from ids 0..k-1)."""
    return _emb_frame(spark.range(n).withColumnRenamed("id", "k"), seed)


def embeddings_batch(spark: SparkSession, seed: int, first_id: int, size: int) -> DataFrame:
    """Insert-only vector batch with NEW ids (SemDeDup refuses re-inserts)."""
    return _emb_frame(
        spark.range(first_id, first_id + size).withColumnRenamed("id", "k"),
        seed,
        copies_of=first_id,
    )


# ----------------------------------------------------------------------
# Event stream and its commit mix (txlog_stream, commit part)
# ----------------------------------------------------------------------

EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
N_USERS = 2000
# The stored schema. Every generated batch is cast to it: a wider type in
# a delta (e.g. DECIMAL(13,2) into DECIMAL(12,2)) would be accepted by
# merge and break the next change-feed read (see README, "Known defects").
EVENT_SCHEMA = [
    ("event_id", "bigint"), ("user_id", "bigint"), ("event_type", "string"),
    ("ts", "timestamp"), ("value", "decimal(12,2)"), ("pbucket", "bigint"),
]


def events(spark: SparkSession, seed: int, ids: list[int] | tuple[int, int], version: int = 0) -> DataFrame:
    """Event rows for ``ids`` (a (lo, hi) range or an explicit id list).
    ``user_id`` -- and so the partition ``pbucket`` -- is a pure function
    of the key, the invariant merge relies on; ``version`` reseeds
    ``value`` so a merge delta really changes rows."""
    if isinstance(ids, tuple):
        keys = spark.range(*ids)
    else:
        keys = spark.createDataFrame([(i,) for i in ids], "id bigint")
    types = ", ".join(f"'{t}'" for t in EVENT_TYPES)
    df = keys.withColumnRenamed("id", "k").selectExpr(
        "k AS event_id",
        f"pmod(xxhash64({seed}, 'user', k), {N_USERS}) AS user_id",
        f"element_at(array({types}), CAST(pmod(xxhash64({seed}, 'type', k), {len(EVENT_TYPES)}) + 1 AS INT)) AS event_type",
        f"timestamp_seconds({T0} + k * 7) AS ts",
        f"pmod(xxhash64({seed}, 'value', k, {version}), 100000) / 100.0 AS value",
    ).withColumn("pbucket", F.col("user_id") % 4)
    return df.select(*[F.col(c).cast(t).alias(c) for c, t in EVENT_SCHEMA])


class CommitMix:
    """Seeded driver-side model of the commit stream: which ids each
    append, merge and delete touches, and the live key set they leave."""

    APPEND, MERGE_UPD, MERGE_NEW, DELETE, POINT_READS = 50, 30, 10, 20, 2

    def __init__(self, seed: int, n_base: int):
        self.rng = random.Random(seed)
        self.live: set[int] = set(range(n_base))
        self.next_id = n_base

    def _fresh(self, n: int) -> list[int]:
        ids = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return ids

    def append_ids(self) -> tuple[int, int]:
        ids = self._fresh(self.APPEND)
        self.live.update(ids)
        return ids[0], ids[-1] + 1

    def merge_ids(self) -> list[int]:
        upd = self.rng.sample(sorted(self.live), self.MERGE_UPD)
        new = self._fresh(self.MERGE_NEW)
        self.live.update(new)
        return upd + new

    def delete_ids(self) -> list[int]:
        gone = self.rng.sample(sorted(self.live), self.DELETE)
        self.live.difference_update(gone)
        return gone

    def point_ids(self) -> list[int]:
        return self.rng.sample(sorted(self.live), self.POINT_READS)


def search_queries(seed: int, cycle: int, n: int) -> list[tuple[str, ...]]:
    """Seeded 3-term BM25 queries over the document vocabulary."""
    rng = random.Random(seed * 7919 + cycle)
    return [tuple(rng.sample(VOCAB, 3)) for _ in range(n)]
