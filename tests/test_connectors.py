"""Connector-layer tests: upsert SQL generation (pure), the custom
jsonl_tail streaming DataSource (live), namespace catalog expansion."""

from __future__ import annotations

import json
import os
import time

import pytest

from transporter_spark.sources.catalog import expand_namespaces, list_dir_namespaces
from transporter_spark.sources.jdbc import delete_sql, upsert_sql


def test_upsert_sql_postgres():
    sql = upsert_sql("postgres", "users", ["id", "name", "bal"], ["id"])
    assert sql == (
        'INSERT INTO "users" ("id", "name", "bal") '
        'SELECT "id", "name", "bal" FROM "users_staging" '
        'WHERE true ON CONFLICT ("id") DO UPDATE SET "name" = EXCLUDED."name", '
        '"bal" = EXCLUDED."bal"'
    )


def test_upsert_sql_postgres_all_key_columns():
    sql = upsert_sql("postgres", "m", ["a", "b"], ["a", "b"])
    assert sql.endswith("DO NOTHING")


def test_upsert_sql_mysql():
    sql = upsert_sql("mysql", "users", ["id", "name"], ["id"])
    assert sql == (
        "INSERT INTO `users` (`id`, `name`) "
        "SELECT `id`, `name` FROM `users_staging` "
        "ON DUPLICATE KEY UPDATE `name` = VALUES(`name`)"
    )


def test_delete_sql_dialects():
    pg = delete_sql("postgres", "users", ["id"], "stage")
    my = delete_sql("mysql", "users", ["id"], "stage")
    assert pg == 'DELETE FROM "users" USING "stage" s WHERE "users"."id" = s."id"'
    assert my == "DELETE `users` FROM `users` JOIN `stage` s ON `users`.`id` = s.`id`"


def test_unknown_dialect_rejected():
    with pytest.raises(ValueError, match="unknown dialect"):
        upsert_sql("oracle", "t", ["a"], ["a"])


def test_expand_namespaces_skips_system_and_filters():
    cands = ["users", "orders_2024", "system.profile", "audit"]
    assert expand_namespaces(cands, "users|orders") == ["users", "orders_2024"]
    assert expand_namespaces(cands, ".*") == ["users", "orders_2024", "audit"]


def test_list_dir_namespaces(sf_dir):
    names = list_dir_namespaces(sf_dir)
    assert "lineitem" in names and "events" in names


def test_dir_source_lists_only_parquet_namespaces(spark, sf_dir, tmp_path):
    """``read_table`` reads only ``{ns}.parquet``: a stray csv/json file
    next to the tables is not a namespace, and a ``dir`` copy over the
    directory runs instead of failing on a missing path."""
    from transporter_spark.plans import Pipeline

    src = tmp_path / "src"
    src.mkdir()
    for t in ("nation", "region"):
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"), src / f"{t}.parquet")
    (src / "notes.csv").write_text("a,b\n1,2\n")
    (src / "extra.jsonl").write_text('{"a": 1}\n')
    assert list_dir_namespaces(str(src)) == ["nation", "region"]
    event = (
        Pipeline("dir-copy")
        .source("dir", path=str(src))
        .save("jsonl", path=str(tmp_path / "out") + "/{ns}")
        .run(spark)
    )
    assert set(event["rows"]) == {"nation -> jsonl[0]", "region -> jsonl[0]"}
    assert event["rows"]["nation -> jsonl[0]"] == spark.read.parquet(
        os.path.join(sf_dir, "nation.parquet")
    ).count()


def test_jsonl_tail_datasource_streams_appends(spark, tmp_path):
    """The M5 custom streaming source: initial content read as batch 1,
    appended lines picked up by the next trigger, byte offsets
    checkpointed — tail-mode parity for connector-less sources."""
    from transporter_spark.sources.datasource import JsonlTailDataSource

    spark.dataSource.register(JsonlTailDataSource)
    feed = tmp_path / "feed.jsonl"
    feed.write_text(
        json.dumps({"op": "insert", "ns": "t", "data": {"id": 1}}) + "\n"
        + json.dumps({"op": "insert", "ns": "t", "data": {"id": 2}}) + "\n"
        + "NOT JSON AT ALL\n"  # poison line must be skipped, not fatal
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("jsonl_tail")
            .option("path", str(feed))
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.json(out).collect()

    first = drain()
    assert len(first) == 2  # poison line skipped

    # append a line; the next run resumes from the checkpointed byte
    # offset and emits ONLY the new row (file sink appends across runs)
    with open(feed, "a") as f:
        f.write(json.dumps({"op": "delete", "ns": "t", "data": {"id": 1}}) + "\n")
    second = drain()
    assert len(second) == 3
    assert sorted(r.op for r in second) == ["delete", "insert", "insert"]


def test_jsonl_tail_skips_json_lines_that_are_not_objects(spark, tmp_path):
    """A line whose JSON is not an object (a number, an array, a string,
    null) is a poison line like a non-JSON one: it is skipped, the good
    lines around it arrive and the offset advances to the end of the
    feed instead of the stream failing."""
    import uuid

    from transporter_spark.sources.datasource import JsonlTailDataSource

    spark.dataSource.register(JsonlTailDataSource)
    feed = tmp_path / "feed.jsonl"
    good = lambda i: json.dumps({"op": "insert", "ns": "t", "data": {"id": i}})
    feed.write_text(
        "\n".join([good(1), "5", "[1,2]", good(2), '"x"', "null", good(3)]) + "\n"
    )
    name = "tail_" + uuid.uuid4().hex[:12]
    q = (
        spark.readStream.format("jsonl_tail")
        .option("path", str(feed))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    assert sorted(json.loads(r.json)["id"] for r in rows) == [1, 2, 3]
    offsets = (tmp_path / "ckpt" / "offsets" / "0").read_text().splitlines()
    assert json.loads(offsets[-1])["pos"] == feed.stat().st_size


def test_tail_offset_never_lands_mid_line(tmp_path):
    """latestOffset must end at the last complete newline: a producer
    caught mid-append would otherwise split a record across two
    micro-batches and both halves die in the poison-line skip."""
    from transporter_spark.sources.datasource import (
        JsonlTailStreamReader,
        last_complete_offset,
    )

    feed = tmp_path / "feed.jsonl"
    whole = json.dumps({"op": "insert", "data": {"id": 1}}) + "\n"
    partial = '{"op":"insert","data":{"id":2'  # unterminated
    feed.write_bytes((whole + partial).encode())

    assert last_complete_offset(str(feed)) == len(whole)
    r = JsonlTailStreamReader(None, {"path": str(feed)})
    end = r.latestOffset()
    assert end == {"pos": len(whole)}
    rows = list(r.read(r.partitions(r.initialOffset(), end)[0]))
    assert len(rows) == 1  # the complete record, intact

    # producer finishes the line -> next batch picks up exactly the rest
    with open(feed, "ab") as f:
        f.write(b'}}\n')
    end2 = r.latestOffset()
    rows2 = list(r.read(r.partitions(end, end2)[0]))
    assert len(rows2) == 1 and json.loads(rows2[0][3]) == {"id": 2}


def test_tail_offset_no_newline_yet(tmp_path):
    from transporter_spark.sources.datasource import last_complete_offset

    feed = tmp_path / "f.jsonl"
    feed.write_bytes(b'{"partial": tru')
    assert last_complete_offset(str(feed)) == 0
    assert last_complete_offset(str(tmp_path / "missing")) == 0


def test_split_epoch_separates_upserts_from_deletes(spark):
    """The epoch staging split (sources/jdbc.split_epoch): delete keys
    must land in their OWN staging table — one shared table would make
    the delete statement remove the epoch's own upserts."""
    from transporter_spark.sources.jdbc import split_epoch

    newest = spark.createDataFrame(
        [
            ("insert", 1, 10, "a"),
            ("update", 2, 11, "b"),
            ("delete", 3, 12, "c"),
        ],
        ["_op", "_ts", "id", "name"],
    )
    upserts, deletes = split_epoch(newest, ["id"])
    assert sorted(upserts.columns) == ["id", "name"]
    assert sorted(r.id for r in upserts.collect()) == [10, 11]
    assert deletes.columns == ["id"]
    assert [r.id for r in deletes.collect()] == [12]
    # and the generated statements address distinct staging tables
    up = upsert_sql("postgres", "t", ["id", "name"], ["id"], "t_staging_upsert_7")
    de = delete_sql("postgres", "t", ["id"], "t_staging_delete_7")
    assert "t_staging_upsert_7" in up and "t_staging_delete_7" in de


# ---------------------------------------------------------------------------
# bulk sink payload builders (ES _bulk / mongo bulkWrite / rabbitmq)
# ---------------------------------------------------------------------------

from transporter_spark.sources.bulk import (  # noqa: E402
    es_bulk_payloads,
    mongo_bulk_ops,
    rabbitmq_publish_payloads,
)


def _envelope_rows():
    return [
        {"op": "insert", "ns": "db.users", "data": {"_id": 1, "name": "a"}},
        {"op": "update", "ns": "db.users", "data": {"_id": 2, "name": "b"}},
        {"op": "delete", "ns": "db.users", "data": {"_id": 3}},
        {"op": "command", "ns": "db.users", "data": {}},  # passthrough, never fails
    ]


def test_es_bulk_payload_exact_ndjson():
    """v5 default (clients/v5/writer.go:76-127): typed actions, _id
    popped into the meta, partial-doc update, flush-before-delete."""
    bodies = list(es_bulk_payloads(_envelope_rows()))
    assert bodies == [
        '{"index":{"_id":"1","_index":"db.users","_type":"db.users"}}\n'
        '{"name":"a"}\n'
        '{"update":{"_id":"2","_index":"db.users","_type":"db.users"}}\n'
        '{"doc":{"name":"b"}}\n',
        '{"delete":{"_id":"3","_index":"db.users","_type":"db.users"}}\n',
    ]


def test_es_bulk_v5_parent_routing():
    """v5 parent/child (clients/v5/writer.go:91-119): the parent_field
    value is popped from the doc and becomes parent+routing on
    index/update, routing-only on delete."""
    rows = [
        {"op": "insert", "ns": "db.msgs", "data": {"_id": 1, "t": "x", "pid": "u7"}},
        {"op": "update", "ns": "db.msgs", "data": {"_id": 2, "t": "y", "pid": "u8"}},
        {"op": "delete", "ns": "db.msgs", "data": {"_id": 3, "pid": "u9"}},
        {"op": "insert", "ns": "db.msgs", "data": {"_id": 4, "t": "z"}},  # no parent
    ]
    bodies = list(es_bulk_payloads(rows, version="v5", parent_field="pid"))
    assert bodies == [
        '{"index":{"_id":"1","_index":"db.msgs","_type":"db.msgs","parent":"u7","routing":"u7"}}\n'
        '{"t":"x"}\n'
        '{"update":{"_id":"2","_index":"db.msgs","_type":"db.msgs","parent":"u8","routing":"u8"}}\n'
        '{"doc":{"t":"y"}}\n',
        '{"delete":{"_id":"3","_index":"db.msgs","_type":"db.msgs","routing":"u9"}}\n'
        '{"index":{"_id":"4","_index":"db.msgs","_type":"db.msgs"}}\n'
        '{"t":"z"}\n',
    ]
    # v2 never emits parent/routing even when configured
    v2 = "".join(es_bulk_payloads(rows, version="v2", parent_field="pid"))
    assert "parent" not in v2.replace('"pid"', "") and "routing" not in v2


def test_es_bulk_v5_empty_parent_means_default_routing():
    """The reference guards every parent/routing emit with pID != ""
    (v5/writer.go:103,109,117): an empty-string or null parent value is
    popped from the doc but routes with DEFAULT routing — never to the
    '' shard key."""
    rows = [
        {"op": "insert", "ns": "db.m", "data": {"_id": 1, "t": "x", "pid": ""}},
        {"op": "delete", "ns": "db.m", "data": {"_id": 2, "pid": None}},
    ]
    body = "".join(es_bulk_payloads(rows, version="v5", parent_field="pid"))
    assert "routing" not in body and "parent" not in body
    assert '"pid"' not in body  # still popped from the document body


def test_es_bulk_splits_at_max_actions_and_bytes():
    rows = [
        {"op": "insert", "ns": "i", "data": {"_id": i, "v": "x" * 10}}
        for i in range(10)
    ]
    by_actions = list(es_bulk_payloads(rows, max_actions=4))
    assert len(by_actions) == 3  # 4 + 4 + 2
    by_bytes = list(es_bulk_payloads(rows, max_bytes=100))
    assert len(by_bytes) > 1
    # every body stays under the cap (single oversized entries excepted)
    assert all(len(b) <= 100 or b.count("\n") == 2 for b in by_bytes)


def test_es_version_sniff_and_dispatch():
    """determineVersion (elasticsearch.go:139-175) + the constraint
    registry (v1 '>=1.4,<2.0', v2 '>=2.0,<5.0', v5 '>=5.0')."""
    from transporter_spark.sources.bulk import (
        EsVersionError,
        parse_es_version,
        pick_es_client,
    )

    body = '{"name":"node-1","version":{"number":"5.6.16"}}'
    assert parse_es_version(body) == "5.6.16"
    with pytest.raises(EsVersionError, match="malformed JSON"):
        parse_es_version("<html>not json</html>")
    with pytest.raises(EsVersionError, match="missing version"):
        parse_es_version('{"name":"x"}')

    matrix = {
        "1.4.0": "v1", "1.7.5": "v1",
        "2.0.0": "v2", "2.4.6": "v2",
        "5.0.0": "v5", "6.8.2": "v5", "7.17.0": "v5", "8.13.0": "v5",
    }
    for version, expected in matrix.items():
        assert pick_es_client(version) == expected, version
    with pytest.raises(EsVersionError, match="unsupported"):
        pick_es_client("1.3.9")
    with pytest.raises(EsVersionError, match="unparseable"):
        pick_es_client("banana")


def test_es_bulk_v2_typed_update_doc_and_delete_flush():
    """v2 payload contract (clients/v2/writer.go:74-105): _type from ns,
    _id stripped from bodies, update as a partial-doc action, delete
    flushes pending actions into their own body first."""
    bodies = list(es_bulk_payloads(_envelope_rows(), version="v2"))
    # insert+update flushed as one body when the delete arrives; the
    # delete then rides alone (flush-before-delete)
    assert bodies == [
        '{"index":{"_id":"1","_index":"db.users","_type":"db.users"}}\n'
        '{"name":"a"}\n'
        '{"update":{"_id":"2","_index":"db.users","_type":"db.users"}}\n'
        '{"doc":{"name":"b"}}\n',
        '{"delete":{"_id":"3","_index":"db.users","_type":"db.users"}}\n',
    ]


def test_es_bulk_v1_single_action_requests():
    """v1 (clients/v1/writer.go:55-78): no bulk API — every action is
    its own request body; _id stays in the document."""
    bodies = list(es_bulk_payloads(_envelope_rows(), version="v1"))
    assert len(bodies) == 3  # one per action, command passthrough dropped
    assert bodies[0] == (
        '{"index":{"_id":"1","_index":"db.users","_type":"db.users"}}\n'
        '{"_id":1,"name":"a"}\n'
    )
    assert all(b.count("\n") <= 2 for b in bodies)


def test_mongo_bulk_ops_replace_upsert_and_delete():
    batches = list(mongo_bulk_ops(_envelope_rows()))
    assert len(batches) == 1
    ops = batches[0]
    assert ops[0] == {
        "replaceOne": {
            "filter": {"_id": 1},
            "replacement": {"_id": 1, "name": "a"},
            "upsert": True,
        }
    }
    assert ops[2] == {"deleteOne": {"filter": {"_id": 3}}}
    assert len(ops) == 3  # command dropped


def test_mongo_bulk_splits_at_max_ops():
    rows = [{"op": "insert", "data": {"_id": i}} for i in range(2500)]
    batches = list(mongo_bulk_ops(rows, max_ops=1000))
    assert [len(b) for b in batches] == [1000, 1000, 500]


def test_rabbitmq_publish_contract():
    out = list(
        rabbitmq_publish_payloads(_envelope_rows(), key_field="name", routing_key="rk")
    )
    # delete + command silently ignored (reference writer.go:34-58)
    assert len(out) == 2
    exchange, rk, body = out[0]
    assert exchange == "db.users"
    assert rk == "a"  # routing key read from the data field
    assert json.loads(body) == {"_id": 1, "name": "a"}


# ---------------------------------------------------------------------------
# AMQP consumer: the ack-after-emit at-least-once state machine
# ---------------------------------------------------------------------------

class FakeAmqpChannel:
    """In-memory broker: basic_get pops, unacked messages are
    redelivered after `recover()` (what a real broker does when the
    consumer's connection dies before acking)."""

    def __init__(self, queues):
        self.queues = {q: list(msgs) for q, msgs in queues.items()}
        self.unacked = {}  # delivery_tag -> (queue, body)
        self.acked = []
        self._tag = 0

    def basic_get(self, queue):
        if not self.queues.get(queue):
            return None
        body = self.queues[queue].pop(0)
        self._tag += 1
        self.unacked[self._tag] = (queue, body)
        return (self._tag, body)

    def basic_ack(self, delivery_tag):
        self.acked.append(delivery_tag)
        self.unacked.pop(delivery_tag)

    def recover(self):
        """Requeue everything unacked (connection-loss semantics)."""
        for tag, (queue, body) in sorted(self.unacked.items()):
            self.queues.setdefault(queue, []).append(body)
        self.unacked = {}


def _amqp_reader(ch, queues=("q1",)):
    from transporter_spark.sources.amqp import AmqpTailStreamReader

    return AmqpTailStreamReader(list(queues), ch, ns_prefix="mq.")


def test_amqp_skips_system_queues():
    from transporter_spark.sources.amqp import list_queues

    assert list_queues(["jobs", "amq.gen-x1", "amq.direct", "events"]) == [
        "jobs",
        "events",
    ]


def test_amqp_batch_rows_and_ack_on_commit():
    ch = FakeAmqpChannel(
        {"q1": [b'{"op":"insert","data":{"_id":1}}', b'{"op":"update","data":{"_id":2}}']}
    )
    r = _amqp_reader(ch)
    start = r.initialOffset()
    end = r.latestOffset()
    assert end == {"seq": 2}
    [part] = r.partitions(start, end)
    rows = list(r.read(part))
    assert [row[0] for row in rows] == ["insert", "update"]
    assert rows[0][2] == "mq.q1"  # namespace = prefixed queue name
    assert json.loads(rows[0][3]) == {"_id": 1}
    assert ch.acked == []  # emitted but NOT acked yet
    r.commit(end)
    assert len(ch.acked) == 2 and not ch.unacked


def test_amqp_crash_before_commit_redelivers():
    """At-least-once: rows read but never committed come back after a
    broker redelivery; nothing is lost, nothing double-acked."""
    ch = FakeAmqpChannel({"q1": [b'{"data":{"_id": 1}}']})
    r = _amqp_reader(ch)
    end = r.latestOffset()
    list(r.read(r.partitions(r.initialOffset(), end)[0]))
    # crash: no commit; broker requeues the unacked message
    ch.recover()
    r2 = _amqp_reader(ch)  # fresh reader, as after restart
    end2 = r2.latestOffset()
    [part] = r2.partitions(r2.initialOffset(), end2)
    rows = list(r2.read(part))
    assert len(rows) == 1 and json.loads(rows[0][3]) == {"_id": 1}
    r2.commit(end2)
    assert not ch.unacked


def test_amqp_retried_batch_is_identical_and_acks_once():
    """A micro-batch replanned over the same [start, end) must produce
    byte-identical rows (buffered, not re-fetched) and commit must ack
    each delivery exactly once."""
    ch = FakeAmqpChannel({"q1": [b'{"data":{"_id":1}}', b'{"data":{"_id":2}}']})
    r = _amqp_reader(ch)
    start, end = r.initialOffset(), r.latestOffset()
    rows1 = list(r.read(r.partitions(start, end)[0]))
    rows2 = list(r.read(r.partitions(start, end)[0]))  # task retry
    assert rows1 == rows2
    r.commit(end)
    r.commit(end)  # idempotent
    assert sorted(ch.acked) == [1, 2]


def test_amqp_bounded_backlog_drains_in_multiple_batches():
    """A backlog larger than max_per_batch drains through SUCCESSIVE
    bounded micro-batches (latestOffset caps each drain — the
    flow-control contract the graded amqp_consume_ops leans on at
    sf0.1): no message lost, none duplicated, each acked exactly once,
    and every intermediate batch respects the cap."""
    bodies = [b'{"data":{"_id":%d}}' % i for i in range(10)]
    ch = FakeAmqpChannel({"q1": list(bodies)})
    from transporter_spark.sources.amqp import AmqpTailStreamReader

    r = AmqpTailStreamReader(["q1"], ch, ns_prefix="mq.", max_per_batch=3)
    start = r.initialOffset()
    rows, batches = [], 0
    while True:
        end = r.latestOffset()
        if end["seq"] == start["seq"]:
            break
        got = list(r.read(r.partitions(start, end)[0]))
        assert len(got) <= 3
        rows.extend(got)
        r.commit(end)
        start = end
        batches += 1
    assert batches == 4  # 3 + 3 + 3 + 1
    assert [json.loads(row[3])["_id"] for row in rows] == list(range(10))
    assert sorted(ch.acked) == list(range(1, 11)) and not ch.unacked


def test_amqp_poison_body_becomes_raw_row():
    ch = FakeAmqpChannel({"q1": [b"not json"]})
    r = _amqp_reader(ch)
    [part] = r.partitions(r.initialOffset(), r.latestOffset())
    [row] = list(r.read(part))
    assert json.loads(row[3]) == {"_raw": "not json"}


# ---------------------------------------------------------------------------
# RethinkDB buffered insert-replace
# ---------------------------------------------------------------------------

def test_rethinkdb_bulk_buffers_inserts_and_renames_id():
    from transporter_spark.sources.bulk import rethinkdb_bulk_ops

    rows = [{"op": "insert", "data": {"_id": i, "v": i}} for i in range(3)]
    ops = list(rethinkdb_bulk_ops(rows))
    assert len(ops) == 1
    kind, docs = ops[0]
    assert kind == "insert"
    assert docs == [{"id": i, "v": i} for i in range(3)]  # _id -> id


def test_rethinkdb_update_and_delete_are_barriers():
    """An update flushes the pending buffer first; a delete flushes and
    then deletes — so apply order can never resurrect a deleted doc."""
    from transporter_spark.sources.bulk import rethinkdb_bulk_ops

    rows = [
        {"op": "insert", "data": {"_id": 1}},
        {"op": "update", "data": {"_id": 1, "v": 2}},
        {"op": "insert", "data": {"_id": 3}},
        {"op": "delete", "data": {"_id": 3}},
    ]
    kinds = [(k, p) for k, p in rethinkdb_bulk_ops(rows)]
    assert kinds == [
        ("insert", [{"id": 1}]),
        ("insert", [{"id": 1, "v": 2}]),
        ("insert", [{"id": 3}]),
        ("delete", 3),
    ]


def test_rethinkdb_bulk_splits_at_max_docs():
    from transporter_spark.sources.bulk import rethinkdb_bulk_ops

    rows = [{"op": "insert", "data": {"_id": i}} for i in range(2500)]
    ops = list(rethinkdb_bulk_ops(rows))
    assert [len(p) for _, p in ops] == [1000, 1000, 500]


# ---------------------------------------------------------------------------
# Mongo copy-scan + oplog contracts (adaptor/mongodb/reader.go)
# ---------------------------------------------------------------------------

def test_mongo_copy_query_merges_filters_and_resume():
    """catQuery (reader.go:172-179): collection filter + _id>lastID."""
    from transporter_spark.sources.mongo import copy_pipeline, copy_query

    filters = {"users": {"active": True}}
    assert copy_query("users", filters) == {"active": True}
    assert copy_query("users", filters, last_id=42) == {
        "active": True,
        "_id": {"$gt": 42},
    }
    assert copy_query("other", filters) == {}
    # the user filter can't override the resume predicate
    poisoned = {"users": {"_id": {"$lt": 5}, "active": True}}
    assert copy_query("users", poisoned, last_id=42)["_id"] == {"$gt": 42}
    # connector form: $match + deterministic _id sort
    pipe = json.loads(copy_pipeline("users", filters, last_id=7))
    assert pipe == [
        {"$match": {"active": True, "_id": {"$gt": 7}}},
        {"$sort": {"_id": 1}},
    ]
    assert json.loads(copy_pipeline("other")) == [{"$sort": {"_id": 1}}]


def test_mongo_requeryable_contract():
    """reader.go:181-205: resumable re-query needs an _id index AND a
    sortable sampled id type."""
    import datetime

    from transporter_spark.sources.mongo import requeryable, sortable_id

    for ok in [b"\x01" * 12, "abc", 1.5, 7, datetime.datetime(2024, 1, 1)]:
        assert sortable_id(ok), ok
    for bad in [None, True, {"x": 1}, [1], (1,)]:
        assert not sortable_id(bad), bad
    assert requeryable(True, "oid")
    assert not requeryable(False, "oid")  # no _id index
    assert not requeryable(True, {"compound": 1})  # unsortable id


def test_mongo_resume_point_modes():
    from transporter_spark.sources.mongo import resume_point

    rm = {"users": {"last_id": 99, "mode": "copy", "ts": 1700000000}}
    assert resume_point(rm, "users") == (99, "copy", 1700000000)
    assert resume_point(rm, "other") == (None, "copy", None)
    assert resume_point(None, "users") == (None, "copy", None)


def test_mongo_oplog_classification_and_update_refetch():
    """i/d carry the doc; u RE-FETCHES the full current document by
    o2._id (getOriginalDoc, reader.go:296-313) — full-replace updates,
    never oplog deltas. Failed fetch skips, not fatal."""
    from transporter_spark.sources.mongo import (
        classify_oplog_entry,
        oplog_query,
        valid_op,
    )

    ts = 1700000123 << 32 | 5
    store = {1: {"_id": 1, "name": "current-full-doc", "v": 9}}
    fetches = []

    def fetch(query):
        fetches.append(query)
        return store.get(query["_id"])

    ins = classify_oplog_entry({"op": "i", "o": {"_id": 1, "v": 1}, "ts": ts}, "c", fetch)
    assert ins == ("insert", {"_id": 1, "v": 1}, 1700000123)
    dele = classify_oplog_entry({"op": "d", "o": {"_id": 1}, "ts": ts}, "c", fetch)
    assert dele == ("delete", {"_id": 1}, 1700000123)
    upd = classify_oplog_entry(
        {"op": "u", "o": {"$set": {"v": 9}}, "o2": {"_id": 1}, "ts": ts},
        "c",
        fetch,
        collection_filters={"c": {"active": True}},
    )
    # the emitted doc is the re-fetched FULL document, not the delta
    assert upd == ("update", store[1], 1700000123)
    assert fetches[-1] == {"active": True, "_id": 1}  # filter + _id query
    # fetch miss -> skip; missing o2._id -> skip; command op -> skip
    assert classify_oplog_entry({"op": "u", "o2": {"_id": 404}, "ts": ts}, "c", fetch) is None
    assert classify_oplog_entry({"op": "u", "o2": {}, "ts": ts}, "c", fetch) is None
    assert classify_oplog_entry({"op": "c", "o": {}, "ts": ts}, "c", fetch) is None
    # tail query shapes (reader.go:230, :288)
    assert oplog_query("db.c", 7) == {"ns": "db.c", "ts": {"$gte": 7}}
    assert oplog_query(None, 7) == {"ts": {"$gte": 7}}
    assert valid_op({"op": "i", "ns": "db.c"}, "db.c")
    assert not valid_op({"op": "n", "ns": "db.c"}, "db.c")
    assert not valid_op({"op": "i", "ns": "db.other"}, "db.c")


class FakeMongoClient:
    """Injectable stand-in for pymongo: collections of docs + a queued
    oplog. Applies the _id $gt resume predicate like a real find."""

    def __init__(self, collections, oplog=()):
        self.collections = collections  # {name: [doc sorted by _id]}
        self.oplog = list(oplog)

    def scan_docs(self, collection, query):
        gt = query.get("_id", {}).get("$gt")
        for doc in self.collections.get(collection, []):
            if gt is None or doc["_id"] > gt:
                yield doc

    def next_oplog_entry(self):
        return self.oplog.pop(0) if self.oplog else None

    def fetch_doc(self, collection, query):
        for doc in self.collections.get(collection, []):
            if doc["_id"] == query["_id"]:
                return doc
        return None


def test_mongo_oplog_reader_copy_then_tail_with_refetch():
    """Copy phase scans from last_id, tail classifies oplog entries,
    updates re-fetch the current full doc (reader.go:58-73, 216-313)."""
    from transporter_spark.sources.mongo import MongoOplogStreamReader

    ts = 1700000001 << 32
    client = FakeMongoClient(
        {"users": [{"_id": 1, "v": "a"}, {"_id": 2, "v": "b"}, {"_id": 3, "v": "c"}]},
        oplog=[
            {"op": "i", "ns": "db.users", "o": {"_id": 4, "v": "d"}, "ts": ts},
            {"op": "u", "ns": "db.users", "o": {"$set": {"v": "B"}}, "o2": {"_id": 2}, "ts": ts},
            {"op": "n", "ns": "db.users", "o": {}, "ts": ts},          # noop skipped
            {"op": "i", "ns": "db.other", "o": {"_id": 9}, "ts": ts},  # other ns skipped
            {"op": "d", "ns": "db.users", "o": {"_id": 1}, "ts": ts},
        ],
    )
    # resume mid-copy: last_id=1 -> docs 2,3 only, then the tail
    r = MongoOplogStreamReader(
        client, "users", "db.users", resume=(1, "copy", None)
    )
    start, end = r.initialOffset(), r.latestOffset()
    rows = list(r.read(r.partitions(start, end)[0]))
    assert [(row[0], json.loads(row[3])["_id"]) for row in rows] == [
        ("insert", 2), ("insert", 3),      # copy resumed past _id 1
        ("insert", 4),                     # tail insert
        ("update", 2),                     # update re-fetched full doc
        ("delete", 1),
    ]
    # the update carried the CURRENT doc from the store, not the delta
    upd = json.loads(rows[3][3])
    assert upd == {"_id": 2, "v": "b"}
    # retry-identical + commit-forgets (at-least-once buffer contract)
    assert list(r.read(r.partitions(start, end)[0])) == rows
    r.commit(end)
    assert r._buffer == {}


def test_mongo_oplog_reader_crash_resume_cycle():
    """The full source lifecycle the reference runs (pipeline/node.go:
    269-415, adaptor/mongodb/reader.go:58-73): fresh copy -> crash ->
    resume MID-COPY from the committed last_id -> tail -> crash ->
    resume in SYNC mode from the saved ts. Deliveries are at-least-once
    (the copy/tail overlap re-delivers), resume points bound the
    re-delivery window to the uncommitted suffix, and an idempotent
    LWW apply of everything delivered converges to the true state —
    the source-side analog of the executed sink compositions below."""
    from transporter_spark.sources.mongo import MongoOplogStreamReader, resume_point

    def ids(rows):
        return [(op, json.loads(body)["_id"]) for op, _ts, _coll, body in rows]

    def drain(reader):
        start, end = reader.initialOffset(), reader.latestOffset()
        rows = list(reader.read(reader.partitions(start, end)[0]))
        reader.commit(end)
        return rows, end

    delivered = []

    # --- run 1: fresh start, copy phase only; crash after commit -----
    client = FakeMongoClient(
        {"users": [{"_id": i, "v": f"v{i}"} for i in (1, 2, 3)]}, oplog=[]
    )
    r1 = MongoOplogStreamReader(client, "users", "db.users")
    rows, end = drain(r1)
    delivered += rows
    assert ids(rows) == [("insert", 1), ("insert", 2), ("insert", 3)]
    assert end == {"seq": 3} and r1._buffer == {}  # commit forgot the batch
    # the durable resume entry the commit log would hold (reader.go:58-66)
    resume_map = {"users": {"last_id": r1._last_id, "mode": "copy"}}
    assert resume_map["users"]["last_id"] == 3

    # --- downtime: docs 4,5 inserted, doc 2 updated; oplog has them --
    ts1 = 1700000100 << 32
    client2 = FakeMongoClient(
        {"users": [
            {"_id": 1, "v": "v1"}, {"_id": 2, "v": "V2"},
            {"_id": 3, "v": "v3"}, {"_id": 4, "v": "v4"}, {"_id": 5, "v": "v5"},
        ]},
        oplog=[
            {"op": "i", "ns": "db.users", "o": {"_id": 4, "v": "v4"}, "ts": ts1},
            {"op": "i", "ns": "db.users", "o": {"_id": 5, "v": "v5"}, "ts": ts1 + 1},
            {"op": "u", "ns": "db.users", "o": {"$set": {"v": "V2"}},
             "o2": {"_id": 2}, "ts": ts1 + 2},
        ],
    )

    # --- run 2: resume mid-copy from last_id=3 ----------------------
    r2 = MongoOplogStreamReader(
        client2, "users", "db.users",
        resume=resume_point(resume_map, "users"),
    )
    rows, end = drain(r2)
    delivered += rows
    # copy re-scans ONLY _id>3 (no re-delivery of committed 1..3), then
    # the tail re-delivers 4,5 (copy/tail overlap — at-least-once by
    # design; reader.go tails from the ts saved BEFORE the copy) and
    # the update arrives as the re-fetched CURRENT document
    assert ids(rows) == [
        ("insert", 4), ("insert", 5),          # copy resumed past 3
        ("insert", 4), ("insert", 5),          # tail overlap
        ("update", 2),
    ]
    assert json.loads(rows[-1][3]) == {"_id": 2, "v": "V2"}
    last_ts = max(int(r[1]) for r in rows if r[1])
    # copy complete -> the commit log flips the entry to sync mode
    resume_map["users"] = {"mode": "sync", "ts": last_ts}

    # --- run 3: crash again; sync-mode resume skips the copy --------
    client3 = FakeMongoClient(
        {"users": client2.collections["users"]},
        oplog=[{"op": "d", "ns": "db.users", "o": {"_id": 1}, "ts": ts1 + 3}],
    )
    last_id, mode, ts = resume_point(resume_map, "users")
    assert (last_id, mode, ts) == (None, "sync", last_ts)
    r3 = MongoOplogStreamReader(
        client3, "users", "db.users", resume=(last_id, mode, ts)
    )
    rows, end = drain(r3)
    delivered += rows
    assert ids(rows) == [("delete", 1)]  # no copy rows: tail only

    # --- convergence: idempotent LWW apply of ALL deliveries --------
    state = {}
    for op, _ts, _coll, body in delivered:
        doc = json.loads(body)
        if op == "delete":
            state.pop(doc["_id"], None)
        else:
            state[doc["_id"]] = doc
    assert state == {
        2: {"_id": 2, "v": "V2"},
        3: {"_id": 3, "v": "v3"},
        4: {"_id": 4, "v": "v4"},
        5: {"_id": 5, "v": "v5"},
    }


def test_mongo_oplog_reader_sync_mode_skips_copy():
    from transporter_spark.sources.mongo import MongoOplogStreamReader

    client = FakeMongoClient({"users": [{"_id": 1}]}, oplog=[])
    r = MongoOplogStreamReader(
        client, "users", "db.users", resume=(None, "sync", 1700000000)
    )
    end = r.latestOffset()
    assert end == {"seq": 0}  # no copy rows: straight to (empty) tail


# ---------------------------------------------------------------------------
# MySQL binlog RowsEvent mapping (adaptor/mysql/tailer.go:222-400)
# ---------------------------------------------------------------------------

def test_binlog_event_type_to_op():
    from transporter_spark.sources.binlog import map_rows_event

    cols = [("id", "int"), ("name", "varchar")]
    for etype, op in [
        ("WRITE_ROWS_EVENTv1", "insert"),
        ("WRITE_ROWS_EVENTv2", "insert"),
        ("DELETE_ROWS_EVENTv1", "delete"),
        ("DELETE_ROWS_EVENTv2", "delete"),
    ]:
        out = map_rows_event(
            {"event_type": etype, "schema": "s", "table": "t", "rows": [[b"1", b"x"]]},
            cols,
        )
        assert out == [(op, "s.t", {"id": 1, "name": "x"})]


def test_binlog_update_emits_after_images_only():
    """UPDATE rows arrive as [before, after] pairs; only after-images
    flow (tailer.go:316-321) — full-row replace semantics."""
    from transporter_spark.sources.binlog import map_rows_event

    cols = [("recipe_id", "int"), ("recipe_name", "varchar")]
    event = {
        "event_type": "UPDATE_ROWS_EVENTv2",
        "schema": "demo",
        "table": "recipes",
        "rows": [
            [b"1", b"Tacos"], [b"1", b"Nachos"],      # pair 1
            [b"2", b"Soup"], [b"2", b"Stew"],         # pair 2
        ],
    }
    out = map_rows_event(event, cols)
    assert out == [
        ("update", "demo.recipes", {"recipe_id": 1, "recipe_name": "Nachos"}),
        ("update", "demo.recipes", {"recipe_id": 2, "recipe_name": "Stew"}),
    ]


def test_binlog_ns_filter_and_skip_and_error():
    from transporter_spark.sources.binlog import (
        BinlogError,
        BinlogSkip,
        map_rows_event,
    )

    cols = [("id", "int")]
    ev = {"event_type": "WRITE_ROWS_EVENTv2", "schema": "s", "table": "t", "rows": [[b"1"]]}
    with pytest.raises(BinlogSkip):
        map_rows_event(ev, cols, ns_filter=lambda ns: ns != "s.t")
    with pytest.raises(BinlogSkip):  # non-rows event (e.g. QUERY_EVENT)
        map_rows_event({"event_type": "QUERY_EVENT"}, cols)
    with pytest.raises(BinlogError):  # unknown rows subtype
        map_rows_event({"event_type": "WRITE_ROWS_EVENTv0"}, cols)


def test_binlog_casify_types_and_geometry():
    from transporter_spark.sources.binlog import backfill_columns, binlog_offset, casify_mysql

    assert casify_mysql(b"12", "bigint") == 12
    assert casify_mysql(b"1.5", "decimal") == 1.5
    assert casify_mysql(b"abc", "varchar") == "abc"
    assert casify_mysql(None, "int") is None
    assert casify_mysql(b"\x05", "bit") == "101"
    # geometry: 4-byte SRID prefix + WKB POINT(1 2) -> WKT (reader.go:225-237)
    import struct

    wkb = b"\x00\x00\x00\x00" + b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", 1.0, 2.0)
    assert casify_mysql(wkb, "point") == "POINT (1 2)"
    # positional backfill + schema-drift tail
    doc = backfill_columns([b"7", b"x", b"extra"], [("id", "int"), ("name", "varchar")])
    assert doc == {"id": 7, "name": "x", "_col2": "extra"}
    assert binlog_offset("mysql-bin.000003", 154) == {"file": "mysql-bin.000003", "pos": 154}


# ---------------------------------------------------------------------------
# RethinkDB reader: scan + changefeed classification (reader.go:35-200)
# ---------------------------------------------------------------------------

class FakeRethinkClient:
    """In-memory stand-in for the rethinkdb driver session: tables of
    docs plus a queued changefeed. Records call order so tests can pin
    the scan/tail handoff contract."""

    def __init__(self, tables, changes=()):
        self.tables = tables  # {name: [doc, ...]}
        self.changes = list(changes)  # [(table, change_dict), ...]
        self.calls = []

    def table_list(self):
        self.calls.append("table_list")
        return list(self.tables)

    def table_docs(self, name):
        self.calls.append(f"scan:{name}")
        return iter(self.tables[name])

    def open_changefeeds(self, tables):
        self.calls.append(f"feeds:{','.join(tables)}")

    def next_change(self):
        if not self.changes:
            return None
        return self.changes.pop(0)


def test_rethink_classify_change_matrix():
    """old_val/new_val presence -> op (reader.go:184-192)."""
    from transporter_spark.sources.rethinkdb import (
        RethinkChangeError,
        classify_change,
    )

    assert classify_change({"old_val": {"id": 1}, "new_val": {"id": 1, "v": 2}}) == (
        "update",
        {"id": 1, "v": 2},
    )
    assert classify_change({"new_val": {"id": 9}}) == ("insert", {"id": 9})
    assert classify_change({"old_val": {"id": 3}}) == ("delete", {"id": 3})
    assert classify_change({"old_val": None, "new_val": None}) is None
    with pytest.raises(RethinkChangeError, match="boom"):
        classify_change({"error": "boom"})


def test_rethink_scan_prunes_tables_by_ns():
    """TableList + ns regex: non-matching tables are never read
    (reader.go:83-105 whole-table pruning)."""
    from transporter_spark.sources.rethinkdb import scan_rows

    client = FakeRethinkClient(
        {"users": [{"id": 1}], "audit": [{"id": 2}], "users_old": [{"id": 3}]}
    )
    rows = list(scan_rows(client, "users.*"))
    assert [(r[0], r[2]) for r in rows] == [
        ("insert", "users"),
        ("insert", "users_old"),
    ]
    assert "scan:audit" not in client.calls


def test_rethink_changefeed_copy_then_tail():
    """First batch = full scan (copy), later batches = classified
    changes; the changefeed opens BEFORE the scan drains so nothing in
    between is lost (reader.go:122-146)."""
    from transporter_spark.sources.rethinkdb import RethinkChangefeedStreamReader

    client = FakeRethinkClient(
        {"t": [{"id": 1}, {"id": 2}]},
        changes=[
            ("t", {"new_val": {"id": 3}}),
            ("t", {"old_val": {"id": 1}, "new_val": {"id": 1, "v": 9}}),
            ("t", {"old_val": {"id": 2}}),
        ],
    )
    r = RethinkChangefeedStreamReader(client, initial_scan=True)
    # handoff: feeds opened before any scan call
    assert client.calls[:2] == ["table_list", "feeds:t"]

    start = r.initialOffset()
    end = r.latestOffset()
    rows = list(r.read(r.partitions(start, end)[0]))
    ops = [(row[0], json.loads(row[3]).get("id")) for row in rows]
    assert ops == [
        ("insert", 1),  # copy phase
        ("insert", 2),
        ("insert", 3),  # then the tail, classified
        ("update", 1),
        ("delete", 2),
    ]
    # retry over the same [start, end) re-reads identical rows
    assert list(r.read(r.partitions(start, end)[0])) == rows
    r.commit(end)
    assert r._buffer == {}  # committed rows forgotten


def test_rethink_changefeed_restart_rescans_and_converges():
    """Changefeeds are push cursors with NO replayable offset (unlike a
    binlog/oplog), so a crash discards the buffer and a restart
    re-enters the COPY phase against the CURRENT table with a fresh
    feed (reader.go:122-146) — re-delivering already-committed rows.
    That is the at-least-once contract: pin that an idempotent LWW
    apply of everything delivered across the crash converges to the
    live table state."""
    from transporter_spark.sources.rethinkdb import RethinkChangefeedStreamReader

    def drain(reader):
        start, end = reader.initialOffset(), reader.latestOffset()
        rows = list(reader.read(reader.partitions(start, end)[0]))
        reader.commit(end)
        return rows

    delivered = []

    # run 1: copy {1,2}, feed delivers insert 3; commit; CRASH
    c1 = FakeRethinkClient(
        {"t": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]},
        changes=[("t", {"new_val": {"id": 3, "v": "c"}})],
    )
    r1 = RethinkChangefeedStreamReader(c1, initial_scan=True)
    rows = drain(r1)
    delivered += rows
    assert [(op, json.loads(b)["id"]) for op, _, _, b in rows] == [
        ("insert", 1), ("insert", 2), ("insert", 3)
    ]

    # downtime: doc 1 updated. Restart: the scan sees the CURRENT
    # table (1 updated, 2, 3) — committed rows are re-delivered, the
    # update arrives as a plain copy row, and a live delete of 2 flows
    # through the fresh feed afterward.
    c2 = FakeRethinkClient(
        {"t": [{"id": 1, "v": "a2"}, {"id": 2, "v": "b"}, {"id": 3, "v": "c"}]},
        changes=[("t", {"old_val": {"id": 2, "v": "b"}})],
    )
    r2 = RethinkChangefeedStreamReader(c2, initial_scan=True)
    assert c2.calls[:2] == ["table_list", "feeds:t"]  # feed before scan
    rows = drain(r2)
    delivered += rows
    ops = [(op, json.loads(b)["id"]) for op, _, _, b in rows]
    assert ops == [
        ("insert", 1), ("insert", 2), ("insert", 3),  # re-copy (dupes)
        ("delete", 2),                                 # live tail
    ]

    # idempotent LWW apply of the full at-least-once feed converges to
    # the live table
    state = {}
    for op, _ts, _tbl, body in delivered:
        doc = json.loads(body)
        if op == "delete":
            state.pop(doc["id"], None)
        else:
            state[doc["id"]] = doc
    assert state == {1: {"id": 1, "v": "a2"}, 3: {"id": 3, "v": "c"}}


def test_rethink_changefeed_error_notification_raises():
    from transporter_spark.sources.rethinkdb import (
        RethinkChangeError,
        RethinkChangefeedStreamReader,
    )

    client = FakeRethinkClient({"t": []}, changes=[("t", {"error": "cursor died"})])
    r = RethinkChangefeedStreamReader(client, initial_scan=False)
    with pytest.raises(RethinkChangeError, match="cursor died"):
        r.latestOffset()


# ---------------------------------------------------------------------------
# postgres test_decoding parser (reference tailer.go:139-233)
# ---------------------------------------------------------------------------

def test_pgdecode_parses_ops_and_types():
    from transporter_spark.sources.pgdecode import parse_test_decoding_line as p

    ns, op, doc = p(
        "table public.users: INSERT: id[integer]:1 bal[numeric(10,2)]:42.50 "
        "name[text]:'al''ice' active[boolean]:true note[text]:null"
    )
    assert (ns, op) == ("public.users", "insert")
    assert doc == {
        "id": 1, "bal": 42.5, "name": "al'ice", "active": True, "note": None,
    }
    assert p("table public.users: DELETE: id[integer]:7")[1] == "delete"
    assert p("table public.users: UPDATE: id[integer]:7 v[bigint]:9")[2] == {
        "id": 7, "v": 9,
    }


def test_pgdecode_skips_tx_markers_and_quoted_idents():
    from transporter_spark.sources.pgdecode import parse_test_decoding_line as p

    assert p("BEGIN 701") is None
    assert p("COMMIT 701") is None
    assert p("") is None
    ns, _op, doc = p(
        'table "MySchema"."Order Items": INSERT: "Qty Ordered"[integer]:3'
    )
    assert ns == "MySchema.Order Items"
    assert doc == {"Qty Ordered": 3}


def test_pgdecode_values_with_spaces_and_strings():
    from transporter_spark.sources.pgdecode import parse_test_decoding_line as p

    _ns, _op, doc = p(
        "table s.t: INSERT: msg[character varying]:'hello world  x' "
        "arr[integer[]]:'{1,2,3}' ts[timestamp without time zone]:'2020-01-01 10:00:00'"
    )
    assert doc["msg"] == "hello world  x"
    assert doc["arr"] == "{1,2,3}"          # literal text, policy-documented
    assert doc["ts"] == "2020-01-01 10:00:00"


def test_pgdecode_tail_datasource_streams(spark, tmp_path):
    """End-to-end through readStream: append test_decoding lines to the
    file, run availableNow batches, check envelope rows + resume."""
    import json as _json

    from transporter_spark.sources.pgdecode import PgDecodeTailDataSource

    spark.dataSource.register(PgDecodeTailDataSource)
    path = tmp_path / "wal.txt"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    path.write_text(
        "BEGIN 1\n"
        "table public.users: INSERT: id[integer]:1 name[text]:'a'\n"
        "table public.users: INSERT: id[integer]:2 name[text]:'b'\n"
        "COMMIT 1\n"
    )

    def run_batch():
        q = (
            spark.readStream.format("pgdecode_tail")
            .option("path", str(path))
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        return {
            (_json.loads(r.json)["id"], r.op)
            for r in spark.read.json(out).collect()
        }

    assert run_batch() == {(1, "insert"), (2, "insert")}
    with open(path, "a") as f:
        f.write(
            "BEGIN 2\n"
            "table public.users: UPDATE: id[integer]:1 name[text]:'z'\n"
            "table public.users: DELETE: id[integer]:2\n"
            "COMMIT 2\n"
        )
    # resume from checkpoint: the file sink accumulates, and the second
    # batch contributes ONLY the new rows (no re-read of batch 1 bytes)
    assert run_batch() == {
        (1, "insert"), (2, "insert"), (1, "update"), (2, "delete"),
    }


def test_rethinkdb_prepare_keeps_existing_id_untouched():
    """prepareDocument (writer.go:96-106): a doc that already carries
    `id` is passed through unchanged — even when `_id` is also present
    — and only an id-less doc gets the `_id` -> `id` rename."""
    from transporter_spark.sources.bulk import rethinkdb_bulk_ops

    rows = [
        {"op": "insert", "ns": "t", "data": {"id": "keep", "_id": "shadow", "v": 1}},
        {"op": "insert", "ns": "t", "data": {"_id": "renamed", "v": 2}},
    ]
    (kind, docs), = rethinkdb_bulk_ops(rows)
    assert kind == "insert"
    assert docs[0] == {"id": "keep", "_id": "shadow", "v": 1}
    assert docs[1] == {"id": "renamed", "v": 2}


def test_pg_bind_value_arrays_and_json():
    """writer.go:67-73: dicts/list-of-dicts -> JSON; plain lists ->
    `{...}` PG array literal; scalars untouched."""
    from transporter_spark.sources.jdbc import pg_bind_value

    assert pg_bind_value({"a": 1}) == '{"a": 1}'
    assert pg_bind_value([{"a": 1}, {"b": 2}]) == '[{"a": 1}, {"b": 2}]'
    assert pg_bind_value([1, 2, 3]) == "{1,2,3}"
    assert pg_bind_value(["x", "y"]) == '{"x","y"}'
    assert pg_bind_value([]) == "{}"
    assert pg_bind_value(7) == 7
    assert pg_bind_value("s") == "s"
    assert pg_bind_value(None) is None


def test_cdc_epoch_sql_composition_executes(spark):
    """The ADVICE-r1 class of bug (epoch delete nuking the epoch's own
    upserts) can only be caught by EXECUTING the composition — so run
    it on a real SQL engine. SQLite speaks the postgres upsert dialect
    (ON CONFLICT ... DO UPDATE SET ... EXCLUDED), so the generated
    upsert statement runs VERBATIM; the delete is executed in IN-form
    (SQLite lacks DELETE..USING) against the same separate delete
    staging table, preserving the property under test: delete keys in
    their own staging table never touch rows the upsert just wrote."""
    import sqlite3

    from transporter_spark.sources.jdbc import split_epoch, upsert_sql

    conn = sqlite3.connect(":memory:")
    conn.execute('CREATE TABLE "users" ("id" INTEGER PRIMARY KEY, "name" TEXT)')

    def run_epoch(epoch_rows, epoch_id):
        batch = spark.createDataFrame(epoch_rows, "_op string, _ts long, id long, name string")
        from transporter_spark.streaming.cdc import latest_per_key

        newest = latest_per_key(batch, ["id"], ["_ts"])
        upserts, deletes = split_epoch(newest, ["id"])
        up_st, del_st = f"up_{epoch_id}", f"del_{epoch_id}"
        conn.execute(f'CREATE TABLE "{up_st}" ("id" INTEGER, "name" TEXT)')
        conn.execute(f'CREATE TABLE "{del_st}" ("id" INTEGER)')
        conn.executemany(
            f'INSERT INTO "{up_st}" VALUES (?, ?)',
            [(r["id"], r["name"]) for r in upserts.collect()],
        )
        conn.executemany(
            f'INSERT INTO "{del_st}" VALUES (?)',
            [(r["id"],) for r in deletes.collect()],
        )
        # generated postgres upsert runs verbatim on sqlite
        conn.execute(upsert_sql("postgres", "users", ["id", "name"], ["id"], up_st))
        # delete in IN-form against the SEPARATE delete staging table
        conn.execute(f'DELETE FROM "users" WHERE "id" IN (SELECT "id" FROM "{del_st}")')
        conn.commit()

    run_epoch(
        [("insert", 1, 1, "a"), ("insert", 1, 2, "b"), ("insert", 1, 3, "c")], 1
    )
    assert conn.execute('SELECT "id","name" FROM "users" ORDER BY 1').fetchall() == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    # epoch 2: update 2, delete 1, insert 4 — and a late duplicate of
    # the update that LWW must collapse before staging
    run_epoch(
        [
            ("update", 2, 2, "b-old"),
            ("update", 3, 2, "b-new"),
            ("delete", 2, 1, None),
            ("insert", 2, 4, "d"),
        ],
        2,
    )
    assert conn.execute('SELECT "id","name" FROM "users" ORDER BY 1').fetchall() == [
        (2, "b-new"), (3, "c"), (4, "d"),
    ]
    conn.close()


def test_mysql_cdc_epoch_sql_composition_executes(spark):
    """Execute the MYSQL-dialect epoch composition (mysql/writer.go:
    36-263 semantics): LWW-collapse -> separate upsert/delete staging
    -> the GENERATED `ON DUPLICATE KEY UPDATE` statement. SQLite has no
    mysql upsert syntax, so the statement runs through a pinned, purely
    SYNTACTIC translation (backtick->dquote, VALUES(c)->EXCLUDED.c,
    ON DUPLICATE KEY UPDATE->ON CONFLICT(pk) DO UPDATE SET) — the
    column lists, staging-table SELECT, and update-set composition
    under test are the generator's own output, executed verbatim."""
    import re
    import sqlite3

    from transporter_spark.sources.jdbc import split_epoch, upsert_sql
    from transporter_spark.streaming.cdc import latest_per_key

    def to_sqlite(mysql_sql, keys):
        s = re.sub(r"VALUES\(`([^`]+)`\)", r'EXCLUDED."\1"', mysql_sql)
        s = s.replace("`", '"')
        conflict = ", ".join(f'"{k}"' for k in keys)
        return s.replace(
            "ON DUPLICATE KEY UPDATE",
            f"WHERE true ON CONFLICT ({conflict}) DO UPDATE SET",
        )

    conn = sqlite3.connect(":memory:")
    conn.execute('CREATE TABLE "users" ("id" INTEGER PRIMARY KEY, "name" TEXT)')

    def run_epoch(epoch_rows, epoch_id):
        batch = spark.createDataFrame(
            epoch_rows, "_op string, _ts long, id long, name string"
        )
        newest = latest_per_key(batch, ["id"], ["_ts"])
        upserts, deletes = split_epoch(newest, ["id"])
        up_st, del_st = f"up_{epoch_id}", f"del_{epoch_id}"
        conn.execute(f'CREATE TABLE "{up_st}" ("id" INTEGER, "name" TEXT)')
        conn.execute(f'CREATE TABLE "{del_st}" ("id" INTEGER)')
        conn.executemany(
            f'INSERT INTO "{up_st}" VALUES (?, ?)',
            [(r["id"], r["name"]) for r in upserts.collect()],
        )
        conn.executemany(
            f'INSERT INTO "{del_st}" VALUES (?)',
            [(r["id"],) for r in deletes.collect()],
        )
        sql = upsert_sql("mysql", "users", ["id", "name"], ["id"], up_st)
        conn.execute(to_sqlite(sql, ["id"]))
        # delete in IN-form against the SEPARATE staging table (SQLite
        # lacks mysql's DELETE..JOIN), preserving the property under
        # test: delete keys never touch rows the upsert just wrote
        conn.execute(
            f'DELETE FROM "users" WHERE "id" IN (SELECT "id" FROM "{del_st}")'
        )
        conn.commit()

    run_epoch(
        [("insert", 1, 1, "a"), ("insert", 1, 2, "b"), ("insert", 1, 3, "c")], 1
    )
    assert conn.execute('SELECT "id","name" FROM "users" ORDER BY 1').fetchall() == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    run_epoch(
        [
            ("update", 2, 2, "b-old"),
            ("update", 3, 2, "b-new"),
            ("delete", 2, 1, None),
            ("insert", 2, 4, "d"),
        ],
        2,
    )
    assert conn.execute('SELECT "id","name" FROM "users" ORDER BY 1').fetchall() == [
        (2, "b-new"), (3, "c"), (4, "d"),
    ]
    conn.close()


def _envelope_batch(spark, rows):
    return spark.createDataFrame(
        rows, "op string, ns string, ts long, data struct<_id:string,name:string>"
    )


_EPOCH_ROWS = [
    ("insert", "db.users", 1, ("1", "a")),
    ("update", "db.users", 2, ("2", "b-old")),
    ("update", "db.users", 3, ("2", "b-new")),  # LWW must collapse b-old
    ("delete", "db.users", 2, ("3", None)),
    ("insert", "db.users", 1, ("4", "d")),
]

# after LWW collapse + apply: 1->a, 2->b-new, 4->d, 3 deleted
_EPOCH_EXPECT = {"1": "a", "2": "b-new", "4": "d"}


def test_es_cdc_sink_composition_executes(spark, tmp_path):
    """Run the full es_cdc_sink epoch loop (LWW-collapse -> v5 bulk
    NDJSON -> flush) against a recording transport (reference behavior:
    adaptor/elasticsearch/clients/v5/writer.go:76-168). The fake writes
    each POSTed body to disk (executors are separate processes);
    replaying the recorded actions must land on the LWW state, and the
    collapsed intermediate (b-old) must never hit the wire."""
    import glob
    import json as _json
    import os
    import uuid

    from transporter_spark.sources.bulk import es_cdc_sink

    rec = str(tmp_path / "rec")
    os.makedirs(rec, exist_ok=True)

    def fake_post(bulk_url, body):
        assert bulk_url == "http://fake:9200/_bulk"
        with open(os.path.join(rec, uuid.uuid4().hex), "w") as fh:
            fh.write(body)
        return {"errors": False}

    apply = es_cdc_sink(
        "http://fake:9200", version="v5", transport=fake_post
    )
    apply(_envelope_batch(spark, _EPOCH_ROWS), epoch_id=0)

    state = {}
    wire = ""
    for path in glob.glob(os.path.join(rec, "*")):
        with open(path) as fh:
            body = fh.read()
        wire += body
        lines = body.strip().split("\n")
        i = 0
        while i < len(lines):
            meta = _json.loads(lines[i])
            if "delete" in meta:
                state.pop(meta["delete"]["_id"], None)
                i += 1
            else:
                action = "index" if "index" in meta else "update"
                doc = _json.loads(lines[i + 1])
                doc = doc.get("doc", doc)
                state[meta[action]["_id"]] = doc.get("name")
                i += 2
    assert state == _EPOCH_EXPECT
    assert "b-old" not in wire  # collapsed BEFORE payload building


def test_mongo_cdc_sink_composition_executes(spark, tmp_path):
    """Run the full mongo_cdc_sink epoch loop (LWW-collapse ->
    bulkWrite op docs -> flush) against a recording bulk_writer
    (reference behavior: adaptor/mongodb/bulk.go:38-152). Replaying
    the recorded replaceOne/deleteOne ops must land on the LWW state."""
    import glob
    import json as _json
    import os
    import uuid

    from transporter_spark.sources.bulk import mongo_cdc_sink

    rec = str(tmp_path / "rec")
    os.makedirs(rec, exist_ok=True)

    def fake_writer(database, collection, ops):
        with open(os.path.join(rec, uuid.uuid4().hex), "w") as fh:
            _json.dump({"db": database, "coll": collection, "ops": ops}, fh)

    apply = mongo_cdc_sink(
        "mongodb://fake", "appdb", "users", bulk_writer=fake_writer
    )
    apply(_envelope_batch(spark, _EPOCH_ROWS), epoch_id=0)

    state = {}
    saw_old = False
    for path in glob.glob(os.path.join(rec, "*")):
        with open(path) as fh:
            recd = _json.load(fh)
        assert (recd["db"], recd["coll"]) == ("appdb", "users")
        for o in recd["ops"]:
            if "deleteOne" in o:
                state.pop(o["deleteOne"]["filter"]["_id"], None)
            else:
                r = o["replaceOne"]
                assert r["upsert"] is True
                saw_old |= r["replacement"].get("name") == "b-old"
                state[r["filter"]["_id"]] = r["replacement"].get("name")
    assert state == _EPOCH_EXPECT
    assert not saw_old  # collapsed BEFORE op building


def test_rethinkdb_cdc_sink_composition_executes(spark, tmp_path):
    """Run the full rethinkdb epoch loop (LWW-collapse ->
    rethinkdb_bulk_ops with its flush barriers -> apply) against a
    recording apply_op (reference: adaptor/rethinkdb/writer.go:48-146).
    Replaying the recorded insert-replace/delete ops must land on the
    LWW state; `_id` is renamed `id` by prepareDocument parity."""
    import glob
    import json as _json
    import os
    import uuid

    from transporter_spark.sources.bulk import rethinkdb_cdc_sink

    rec = str(tmp_path / "rec")
    os.makedirs(rec, exist_ok=True)

    def fake_apply(database, table, kind, payload):
        with open(os.path.join(rec, uuid.uuid4().hex), "w") as fh:
            _json.dump(
                {"db": database, "table": table, "kind": kind, "payload": payload},
                fh,
            )

    apply = rethinkdb_cdc_sink("appdb", "users", apply_op=fake_apply)
    apply(_envelope_batch(spark, _EPOCH_ROWS), epoch_id=0)

    state = {}
    saw_old = False
    for path in glob.glob(os.path.join(rec, "*")):
        with open(path) as fh:
            recd = _json.load(fh)
        assert (recd["db"], recd["table"]) == ("appdb", "users")
        if recd["kind"] == "delete":
            state.pop(recd["payload"], None)
        else:
            for doc in recd["payload"]:
                assert "_id" not in doc  # prepareDocument rename
                saw_old |= doc.get("name") == "b-old"
                state[doc["id"]] = doc.get("name")
    assert state == _EPOCH_EXPECT
    assert not saw_old  # collapsed BEFORE op building


def test_rabbitmq_sink_composition_executes(spark, tmp_path):
    """Run the rabbitmq publish epoch end to end. Parity is the
    OPPOSITE of the upsert sinks (rabbitmq/writer.go:34-58): every
    Insert/Update publishes (including superseded intermediates — a
    feed consumer is owed them), Deletes never publish, exchange = ns,
    and bodies are the raw document JSON."""
    import glob
    import json as _json
    import os
    import uuid

    from transporter_spark.sources.bulk import rabbitmq_sink

    rec = str(tmp_path / "rec")
    os.makedirs(rec, exist_ok=True)

    def fake_publish(exchange, routing_key, body):
        with open(os.path.join(rec, uuid.uuid4().hex), "w") as fh:
            _json.dump({"ex": exchange, "rk": routing_key, "body": body}, fh)

    apply = rabbitmq_sink(publisher=fake_publish, key_field="_id")
    apply(_envelope_batch(spark, _EPOCH_ROWS), epoch_id=0)

    published = []
    for path in glob.glob(os.path.join(rec, "*")):
        with open(path) as fh:
            recd = _json.load(fh)
        assert recd["ex"] == "db.users"
        doc = _json.loads(recd["body"])
        assert recd["rk"] == doc["_id"]  # key_field routing
        published.append(doc.get("name"))
    # all 4 insert/updates published (b-old AND b-new), delete ignored
    assert sorted(p for p in published) == ["a", "b-new", "b-old", "d"]


# ---------------------------------------------------------------------------
# MySQL binlog tail: copy -> tail -> crash -> resume cycle
# (adaptor/mysql/tailer.go:41-77 resume bootstrap, reader.go copy SELECT)
# ---------------------------------------------------------------------------


class FakeBinlogClient:
    """Recording fake of the BinlogTailStreamReader client contract:
    a table snapshot (the copy SELECT's view) plus a durable binlog of
    ((file, pos), event) entries. events_between applies the (start,
    end] range like a real replication stream resumed at an offset."""

    def __init__(self, tables, log, columns):
        self.tables = tables
        self.log = list(log)
        self._columns = columns
        self.column_queries = []

    def master_status(self):
        return self.log[-1][0] if self.log else ("mysql-bin.000001", 4)

    def events_between(self, start, end):
        return [(off, ev) for off, ev in self.log if start < off <= end]

    def columns(self, schema, table):
        self.column_queries.append((schema, table))
        return self._columns[(schema, table)]

    def scan(self, table):
        return list(self.tables[table])


def test_binlog_reader_copy_tail_crash_resume_cycle():
    """The mysql source lifecycle: SHOW MASTER STATUS is captured
    BEFORE the copy SELECT starts, the copy snapshot and the tail
    overlap (at-least-once by design), a crash resumes from the saved
    (file, pos) across a binlog ROTATION, and an idempotent LWW apply
    of everything delivered converges to the true table state — the
    mysql analog of test_mongo_oplog_reader_crash_resume_cycle."""
    from transporter_spark.sources.binlog import BinlogTailStreamReader

    cols = {("db", "users"): [("id", "int"), ("name", "varchar")]}
    f1, f2 = "mysql-bin.000001", "mysql-bin.000002"

    def ev(etype, rows):
        return {"event_type": etype, "schema": "db", "table": "users",
                "rows": rows, "ts": "1700000000"}

    # binlog BEFORE the copy starts: the insert of row 3 is already in
    # the log past the captured status -> copy/tail overlap re-delivers
    client = FakeBinlogClient(
        tables={"users": [
            {"id": 1, "name": "a"}, {"id": 2, "name": "b"}, {"id": 3, "name": "c"},
        ]},
        log=[((f1, 200), ev("WRITE_ROWS_EVENTv2", [["3", "c"]]))],
        columns=cols,
    )
    saved = ("mysql-bin.000001", 100)  # status captured BEFORE the copy

    delivered = []

    def ids(rows):
        return [(op, json.loads(body)["id"]) for op, _ts, _ns, body in rows]

    def drain(reader):
        start, end = reader.initialOffset(), reader.latestOffset()
        parts = reader.partitions(start, end)
        rows = list(reader.read(parts[0]))
        # requeryable: a task retry re-derives identical payloads
        assert list(reader.read(reader.partitions(start, end)[0])) == rows
        reader.commit(end)
        return rows, (end["file"], end["pos"])

    # --- copy phase: the snapshot SELECT (reader.go copy) ------------
    copy_rows = [
        ("insert", "", "db.users", json.dumps(d, sort_keys=True))
        for d in client.scan("users")
    ]
    delivered += copy_rows
    assert [json.loads(r[3])["id"] for r in copy_rows] == [1, 2, 3]

    # --- run 1: tail from the pre-copy status ------------------------
    r1 = BinlogTailStreamReader(client, resume=saved)
    rows, saved = drain(r1)
    delivered += rows
    # row 3's insert is re-delivered: it committed after the status was
    # captured but before the copy SELECT ran -- overlap, not loss
    assert ids(rows) == [("insert", 3)]

    # --- downtime: update, rotation, multi-row update, delete --------
    client.log += [
        ((f1, 300), ev("UPDATE_ROWS_EVENTv2", [["2", "b"], ["2", "B"]])),
        # rotation: file advances, position resets
        ((f2, 120), ev("WRITE_ROWS_EVENTv2", [["4", "d"]])),
        # multi-row update: TWO before/after pairs in one event
        ((f2, 200), ev("UPDATE_ROWS_EVENTv1",
                       [["1", "a"], ["1", "A"], ["4", "d"], ["4", "D"]])),
        ((f2, 260), ev("DELETE_ROWS_EVENTv1", [["3", "c"]])),
    ]

    # --- run 2: crash; resume from the committed (file, pos) ---------
    r2 = BinlogTailStreamReader(client, resume=saved)
    rows, saved = drain(r2)
    delivered += rows
    # no re-delivery of committed events; the rotation is transparent;
    # updates emit after-images only (both rows of the multi-row event)
    assert ids(rows) == [
        ("update", 2), ("insert", 4), ("update", 1), ("update", 4), ("delete", 3),
    ]
    assert json.loads(rows[2][3]) == {"id": 1, "name": "A"}
    # INFORMATION_SCHEMA was consulted once per table PER READER (the
    # requeryable-retry above replays the cached columns), not per event
    assert client.column_queries == [("db", "users"), ("db", "users")]

    # --- convergence: idempotent LWW apply of ALL deliveries ---------
    state = {}
    for op, _ts, _ns, body in delivered:
        doc = json.loads(body)
        if op == "delete":
            state.pop(doc["id"], None)
        else:
            state[doc["id"]] = doc
    assert state == {
        1: {"id": 1, "name": "A"},
        2: {"id": 2, "name": "B"},
        4: {"id": 4, "name": "D"},
    }


def test_binlog_reader_skips_filtered_ns_and_empty_range():
    from transporter_spark.sources.binlog import BinlogTailStreamReader

    cols = {("db", "users"): [("id", "int")], ("db", "audit"): [("id", "int")]}
    f1 = "mysql-bin.000001"
    client = FakeBinlogClient(
        tables={},
        log=[
            ((f1, 10), {"event_type": "WRITE_ROWS_EVENTv2", "schema": "db",
                        "table": "audit", "rows": [["9"]]}),
            ((f1, 20), {"event_type": "XID_EVENT", "schema": "db",
                        "table": "users", "rows": []}),  # non-rows: skipped
            ((f1, 30), {"event_type": "WRITE_ROWS_EVENTv2", "schema": "db",
                        "table": "users", "rows": [["1"]]}),
        ],
        columns=cols,
    )
    r = BinlogTailStreamReader(
        client, ns_filter=lambda ns: ns == "db.users", resume=(f1, 4)
    )
    rows = list(r.read(r.partitions(r.initialOffset(), r.latestOffset())[0]))
    assert [(op, _ns) for op, _ts, _ns, _b in rows] == [("insert", "db.users")]
    # end <= start -> empty partition, no client calls
    assert r.read(r.partitions({"file": f1, "pos": 30}, {"file": f1, "pos": 30})[0]) is not None


# ---------------------------------------------------------------------------
# Postgres CDC: copy -> tail -> crash(mid-line) -> resume cycle
# (adaptor/postgres/reader.go copy SELECT + tailer.go:35-233 slot poll)
# ---------------------------------------------------------------------------


def test_pgdecode_reader_copy_tail_crash_resume_cycle(tmp_path):
    """The postgres source lifecycle, driving PgDecodeTailStreamReader
    directly with the test playing Spark's offset log: copy snapshot,
    tail from the saved byte position (the LSN analog), crash while a
    line is HALF-WRITTEN (latestOffset refuses to land mid-line), then
    resume delivers the completed line exactly once. LWW apply of
    everything delivered converges to the true table state."""
    from transporter_spark.sources.pgdecode import PgDecodeTailStreamReader

    path = tmp_path / "slot.txt"
    path.write_text("")

    # --- copy phase: the snapshot SELECT ----------------------------
    snapshot = [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    delivered = [
        ("insert", "", "public.users", json.dumps(d, sort_keys=True))
        for d in snapshot
    ]

    reader = PgDecodeTailStreamReader(None, {"path": str(path)})

    def drain(start):
        end = reader.latestOffset()
        rows = list(reader.read(reader.partitions(start, end)[0]))
        # byte ranges over the slot output are replayable (LSN contract)
        assert list(reader.read(reader.partitions(start, end)[0])) == rows
        reader.commit(end)
        return rows, end

    # --- run 1: tail; the copy-overlap insert of id 2 re-delivers ----
    with open(path, "a") as f:
        f.write(
            "BEGIN 1\n"
            "table public.users: INSERT: id[integer]:2 v[text]:'b'\n"
            "table public.users: UPDATE: id[integer]:1 v[text]:'A'\n"
            "COMMIT 1\n"
        )
    rows, saved = drain(reader.initialOffset())
    delivered += rows
    assert [(op, json.loads(b)["id"]) for op, _t, _n, b in rows] == [
        ("insert", 2), ("update", 1),
    ]

    # --- downtime: a complete delete + a HALF-written insert ---------
    with open(path, "a") as f:
        f.write(
            "BEGIN 2\n"
            "table public.users: DELETE: id[integer]:2\n"
            "table public.users: INSERT: id[integer]:3"  # no newline: torn
        )
    # --- run 2: crash; a NEW reader resumes from the saved offset ----
    reader = PgDecodeTailStreamReader(None, {"path": str(path)})
    rows, saved2 = drain(saved)
    delivered += rows
    # the torn line is NOT delivered and the offset stops BEFORE it
    assert [(op, json.loads(b)["id"]) for op, _t, _n, b in rows] == [("delete", 2)]
    assert saved2["pos"] < path.stat().st_size

    # --- the writer finishes the line; run 3 picks it up exactly once
    with open(path, "a") as f:
        f.write(" v[text]:'c'\nCOMMIT 2\n")
    reader = PgDecodeTailStreamReader(None, {"path": str(path)})
    rows, _ = drain(saved2)
    delivered += rows
    assert [(op, json.loads(b)["id"]) for op, _t, _n, b in rows] == [("insert", 3)]

    # --- convergence: idempotent LWW apply of ALL deliveries ---------
    state = {}
    for op, _ts, _ns, body in delivered:
        doc = json.loads(body)
        if op == "delete":
            state.pop(doc["id"], None)
        else:
            state[doc["id"]] = doc
    assert state == {
        1: {"id": 1, "v": "A"},
        3: {"id": 3, "v": "c"},
    }


def test_binlog_reader_nonrows_events_without_schema_are_skipped():
    """ROTATE/FORMAT_DESCRIPTION/QUERY events carry no schema/table;
    classification must skip them BEFORE any schema access or
    INFORMATION_SCHEMA lookup (tailer.go:246-251 filter-first), and a
    filtered table must trigger no columns() call either."""
    from transporter_spark.sources.binlog import BinlogTailStreamReader

    f1 = "mysql-bin.000001"
    client = FakeBinlogClient(
        tables={},
        log=[
            ((f1, 10), {"event_type": "ROTATE_EVENT"}),              # no schema/table
            ((f1, 20), {"event_type": "FORMAT_DESCRIPTION_EVENT"}),  # no schema/table
            ((f1, 30), {"event_type": "QUERY_EVENT", "schema": "db"}),
            ((f1, 40), {"event_type": "WRITE_ROWS_EVENTv2", "schema": "db",
                        "table": "audit", "rows": [["9"]]}),         # ns-filtered
            ((f1, 50), {"event_type": "WRITE_ROWS_EVENTv2", "schema": "db",
                        "table": "users", "rows": [["1"]]}),
        ],
        columns={("db", "users"): [("id", "int")]},
    )
    r = BinlogTailStreamReader(
        client, ns_filter=lambda ns: ns == "db.users", resume=(f1, 4)
    )
    rows = list(r.read(r.partitions(r.initialOffset(), r.latestOffset())[0]))
    assert [(op, ns) for op, _ts, ns, _b in rows] == [("insert", "db.users")]
    # the filtered audit table never reached INFORMATION_SCHEMA
    assert client.column_queries == [("db", "users")]


def test_binlog_offset_order_survives_suffix_widening():
    """MySQL widens the binlog suffix past 999999 (no wrap): the offset
    order must treat mysql-bin.1000000 as AFTER mysql-bin.999999 —
    lexicographic comparison would wedge the stream silently."""
    from transporter_spark.sources.binlog import _offset_key, binlog_offset

    a = binlog_offset("mysql-bin.999999", 500)
    b = binlog_offset("mysql-bin.1000000", 4)
    assert _offset_key(b) > _offset_key(a)
    # and within a file, position still orders
    assert _offset_key(binlog_offset("mysql-bin.000002", 9)) > _offset_key(
        binlog_offset("mysql-bin.000002", 4)
    )


def test_mongo_bulk_ops_extended_json_payloads():
    """mejson v1 render-out on the mongo write path (VERDICT r10 item
    7): datetime/Decimal/int/bytes wrap in both replacements AND id
    filters; plain strings/floats pass through; the flag off keeps
    the raw dicts byte-identical to the pre-r11 contract."""
    import datetime as dt
    from decimal import Decimal

    from transporter_spark.sources.bulk import mongo_bulk_ops

    rows = [
        {
            "op": "insert",
            "data": {
                "_id": 7,
                "at": dt.datetime(2024, 1, 2, 3, 4, 5),
                "amt": Decimal("12.3400000000"),
                "blob": b"\x00\x01",
                "name": "x",
                "score": 1.5,
            },
        },
        {"op": "delete", "_id": 7, "data": {"_id": 7}},
    ]
    batches = list(mongo_bulk_ops(rows, extended_json=True))
    assert len(batches) == 1
    rep = batches[0][0]["replaceOne"]
    assert rep["filter"] == {"_id": {"$numberLong": "7"}}
    assert rep["replacement"] == {
        "_id": {"$numberLong": "7"},
        "at": {"$date": 1704164645000},
        "amt": {"$numberDecimal": "12.3400000000"},
        "blob": {"$binary": "AAE=", "$type": "00"},
        "name": "x",
        "score": 1.5,
    }
    assert batches[0][1] == {
        "deleteOne": {"filter": {"_id": {"$numberLong": "7"}}}
    }
    # flag off: raw values untouched
    raw = list(mongo_bulk_ops(rows))[0][0]["replaceOne"]
    assert raw["filter"] == {"_id": 7}
    assert raw["replacement"]["at"] == dt.datetime(2024, 1, 2, 3, 4, 5)


def test_extended_json_column_roundtrip(spark):
    """to_extended_json -> normalize_extended_json is the identity on
    the typed columns (the mejson round-trip the reference performs
    at every JS-transform boundary)."""
    import pyspark.sql.functions as F

    from transporter_spark.functions.extended_json import (
        normalize_extended_json,
        to_extended_json,
    )

    df = spark.createDataFrame(
        [(1, "abc123", 1704164645000, 7)],
        "k long, oid_v string, millis long, n long",
    ).select(
        "k",
        F.col("oid_v").alias("_id"),
        F.timestamp_millis("millis").alias("at"),
        F.lit("12.3400000000").cast("decimal(38,10)").alias("amt"),
        F.col("n"),
    )
    doc = df.select(
        "k",
        to_extended_json(
            {"_id": "oid", "at": "date", "amt": "decimal", "n": "long"}
        ).alias("doc"),
    )
    back = doc.select(
        "k",
        *normalize_extended_json(
            "doc", {"_id": "oid", "at": "date", "amt": "decimal", "n": "long"}
        ),
    ).collect()[0]
    assert back._id == "abc123"
    assert back.at.isoformat().startswith("2024-01-02T03:04:05")
    assert str(back.amt) == "12.3400000000"
    assert back.n == 7


def test_mejson_wrap_pre_epoch_millis_floor():
    """r11 review: pre-1970 fractional-second instants must floor (the
    BSON/unix_millis convention), not truncate toward zero."""
    import datetime as dt

    from transporter_spark.functions.extended_json import mejson_wrap

    v = dt.datetime(1960, 1, 2, 3, 4, 5, 777000, tzinfo=dt.timezone.utc)
    assert mejson_wrap(v) == {"$date": -315521754223}
    w = dt.datetime(1960, 1, 2, 3, 4, 5, 777, tzinfo=dt.timezone.utc)
    # 777 us -> floor to 0 ms past the second boundary... the instant
    # is BEFORE the epoch, so floor moves DOWN (away from zero)
    assert mejson_wrap(w) == {"$date": -315521755000}
    x = dt.datetime(1975, 1, 2, 3, 4, 5, 777, tzinfo=dt.timezone.utc)
    assert mejson_wrap(x) == {"$date": 157863845000}
