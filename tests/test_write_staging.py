"""One staging path per write op: ``writer.Transaction``, SQL ``BEGIN``
blocks and MERGE stage through ``Table._stage_<op>``, so they validate
exactly like the direct ops, and every staging step discards its own
files on an error before the commit publishes them."""

from __future__ import annotations

import os

import pytest

from kudu_spark import table as table_mod
from kudu_spark.engine import Engine
from kudu_spark.errors import ImmutableColumnError, SchemaError
from kudu_spark.table import Table
from kudu_spark.writer import Transaction

SIMPLE = [("key", "int", False), ("int_val", "int", False), ("string_val", "string", True)]
DDL = "key int, int_val int, string_val string"


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "wh"))


@pytest.fixture()
def w(engine, spark):
    """``w(key int PK, int_val int NOT NULL, string_val string IMMUTABLE)``."""
    t = engine.create_table("w", SIMPLE, pk=["key"], immutable_cols=["string_val"])
    t.insert(spark.createDataFrame([(k, k * 10, f"s{k}") for k in range(5)], DDL))
    return engine.table("w")


@pytest.fixture()
def plain(engine, spark):
    t = engine.create_table("f", SIMPLE, pk=["key"])
    t.insert(spark.createDataFrame([(k, k * 10, f"s{k}") for k in range(5)], DDL))
    return engine.table("f")


def data_listing(t) -> set[str]:
    root = os.path.join(t.root, "data")
    return {
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
    }


def _txn(t, op, df):
    txn = Transaction(t)
    getattr(txn, op)(df)
    txn.commit()


PARITY = {
    "txn_upsert_null_pk": (
        SchemaError,
        lambda eng, t, spark: _txn(t, "upsert", spark.createDataFrame([(None, 1, "a")], DDL))),
    "txn_upsert_null_not_nullable": (
        SchemaError,
        lambda eng, t, spark: _txn(t, "upsert", spark.createDataFrame([(7, None, "a")], DDL))),
    "txn_upsert_changes_immutable": (
        ImmutableColumnError,
        lambda eng, t, spark: _txn(t, "upsert", spark.createDataFrame([(1, 11, "X")], DDL))),
    "sql_begin_update_immutable": (
        ImmutableColumnError,
        lambda eng, t, spark: eng.sql_script(
            "BEGIN; UPDATE w SET string_val = 'X' WHERE key = 1; COMMIT")),
    "sql_begin_update_null_not_nullable": (
        SchemaError,
        lambda eng, t, spark: eng.sql_script(
            "BEGIN; UPDATE w SET int_val = NULL WHERE key = 1; COMMIT")),
    "merge_matched_update_null_not_nullable": (
        SchemaError,
        lambda eng, t, spark: eng.sql(
            "MERGE INTO w USING (SELECT 1 AS k) s ON w.key = s.k "
            "WHEN MATCHED THEN UPDATE SET int_val = NULL")),
}


@pytest.mark.parametrize("case", list(PARITY))
def test_txn_and_sql_block_ops_validate_like_direct_ops(engine, w, spark, case):
    """Each of these is rejected by the direct op (Table.upsert, or the
    same UPDATE outside BEGIN); staged through a transaction, a BEGIN
    block or MERGE it must be rejected the same way, leaving neither a
    commit nor a staged file behind."""
    err, run = PARITY[case]
    v0, files0 = w.version, data_listing(w)
    with pytest.raises(err):
        run(engine, w, spark)
    assert engine.table("w").version == v0
    assert data_listing(w) == files0


def test_txn_update_sets_only_named_columns(engine, w, spark):
    """Transaction.update / EngineTransaction.update stage Table.update's
    per-column op: unnamed columns keep their values, absent keys fail."""
    from kudu_spark.errors import RowNotFoundError

    txn = Transaction(w)
    txn.update(spark.createDataFrame([(1, 111)], "key int, int_val int"))
    txn.commit()
    etxn = engine.transaction()
    etxn.update("w", spark.createDataFrame([(2, 222)], "key int, int_val int"))
    etxn.commit()
    got = {r.key: (r.int_val, r.string_val) for r in engine.table("w").scan().collect()}
    assert got[1] == (111, "s1") and got[2] == (222, "s2") and got[3] == (30, "s3")
    with pytest.raises(RowNotFoundError):
        Transaction(w).update(spark.createDataFrame([(99, 1)], "key int, int_val int"))


def test_txn_insert_non_unique_pk_assigns_disjoint_ids(engine, spark):
    """Transaction.insert on a non-unique-PK table goes through the
    insert staging step: ids are assigned, the second insert continues
    from the transaction's running counter (not the committed one),
    and the one txn commit publishes auto_inc_next past both."""
    t = engine.create_table("auto", SIMPLE, pk=["key"], non_unique_pk=True)
    t.insert(spark.createDataFrame([(1, 10, "a")], DDL))
    committed = int(engine.table("auto").state().props["auto_inc_next"])
    txn = Transaction(engine.table("auto"))
    txn.insert(spark.createDataFrame([(1, 11, "b"), (2, 20, "c")], DDL))
    txn.insert(spark.createDataFrame([(1, 12, "d")], DDL))
    v = txn.commit()
    t = engine.table("auto")
    assert t.version == v
    rows = {r.int_val: r.auto_incrementing_id for r in t.scan().collect()}
    assert sorted(rows) == [10, 11, 12, 20]
    assert len(set(rows.values())) == 4
    stride = table_mod.AUTO_INC_STRIDE
    # first txn insert reserves [committed, committed+stride), the
    # second the next window: disjoint by construction
    assert committed <= rows[11] < committed + stride
    assert committed <= rows[20] < committed + stride
    assert committed + stride <= rows[12] < committed + 2 * stride
    assert int(t.state().props["auto_inc_next"]) == committed + 2 * stride
    # a later direct insert starts past both reservations
    t.insert(spark.createDataFrame([(3, 30, "e")], DDL))
    ids = [r.auto_incrementing_id for r in engine.table("auto").scan().collect()]
    assert len(ids) == 5 and len(set(ids)) == 5


def test_txn_auto_inc_insert_conflicts_with_concurrent_reservation(engine, spark):
    """Another writer's insert between staging and commit moves
    auto_inc_next: the ids the transaction reserved may be taken, so
    the commit fails as a conflict and reclaims its staged files
    instead of publishing a counter behind the committed one."""
    from kudu_spark.errors import ConcurrentCommitError

    t = engine.create_table("auto", SIMPLE, pk=["key"], non_unique_pk=True)
    t.insert(spark.createDataFrame([(1, 10, "a")], DDL))
    txn = Transaction(engine.table("auto"))
    txn.insert(spark.createDataFrame([(2, 20, "b")], DDL))
    engine.table("auto").insert(spark.createDataFrame([(3, 30, "c")], DDL))
    engine.table("auto").insert(spark.createDataFrame([(4, 40, "d")], DDL))
    with pytest.raises(ConcurrentCommitError):
        txn.commit()
    t = engine.table("auto")
    assert sorted(r.key for r in t.scan().collect()) == [1, 3, 4]
    assert engine.fsck("auto")["auto"]["orphans"] == []


class Crash(BaseException):
    """Stands in for a process death: not an Exception, so the commit's
    abort handler never runs and the marker stays 'committing'."""


def test_recovered_txn_publishes_auto_inc_next(engine, spark, monkeypatch):
    """A crash after the cross-table marker is durable leaves the
    commit to recover(): it must publish the transaction's
    auto_inc_next too, or the next insert reuses the staged ids."""
    t = engine.create_table("auto", SIMPLE, pk=["key"], non_unique_pk=True)
    t.insert(spark.createDataFrame([(1, 10, "a")], DDL))
    txn = engine.transaction()
    txn.insert("auto", spark.createDataFrame([(2, 20, "b")], DDL))

    def crash(self, txn_id=None):
        raise Crash()

    monkeypatch.setattr(Transaction, "_publish", crash)
    with pytest.raises(Crash):
        txn.commit()
    monkeypatch.undo()
    assert len(engine.recover_transactions()) == 1
    engine.table("auto").insert(spark.createDataFrame([(3, 30, "c")], DDL))
    ids = [r.auto_incrementing_id for r in engine.table("auto").scan().collect()]
    assert len(ids) == 3 and len(set(ids)) == 3


class Injected(RuntimeError):
    pass


FAULTS = {
    # op: (object, attribute that runs after the op's files are staged, op)
    "insert": (Table, "present_key_probe",
               lambda t, spark: t.insert(spark.createDataFrame([(50, 1, "n")], DDL))),
    "upsert": (table_mod, "observed_metrics",
               lambda t, spark: t.upsert(spark.createDataFrame([(1, 5, "u")], DDL))),
    "update_ignore": (table_mod, "observed_metrics",
                      lambda t, spark: t.update(
                          spark.createDataFrame([(1, 5)], "key int, int_val int"),
                          mode="ignore")),
    "update": (Table, "_sync_sidecar_seq",
               lambda t, spark: t.update(
                   spark.createDataFrame([(1, 5)], "key int, int_val int"))),
    "delete": (Table, "_sync_sidecar_seq",
               lambda t, spark: t.delete(spark.createDataFrame([(1,)], "key int"))),
    "txn_insert": (Table, "present_key_probe",
                   lambda t, spark: Transaction(t).insert(
                       spark.createDataFrame([(50, 1, "n")], DDL))),
}


@pytest.mark.parametrize("op", list(FAULTS))
def test_staged_files_discarded_when_a_step_after_staging_fails(
        engine, plain, spark, monkeypatch, op):
    """A failure between writing an op's files and publishing its
    commit (a Spark error in the duplicate-key probe, an unusable
    observation, an IO error in the commit step) leaves no staged file
    behind: data/ holds exactly the files it held before and fsck
    reports no orphans."""
    owner, attr, run = FAULTS[op]
    files0 = data_listing(plain)
    seen = []

    def boom(*a, **k):
        seen.append(len(data_listing(plain) - files0))
        raise Injected(attr)

    monkeypatch.setattr(owner, attr, boom)
    with pytest.raises(Injected):
        run(plain, spark)
    assert seen and seen[0] > 0, "the fault did not hit after staging"
    assert data_listing(plain) == files0
    rep = engine.fsck("f")["f"]
    assert rep["ok"] and rep["orphans"] == [] and rep["missing"] == []
