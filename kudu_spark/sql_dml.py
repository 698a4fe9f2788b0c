"""SQL DML over engine tables — the Impala-on-Kudu write surface.

Kudu users mutate tables through SQL (INSERT / UPSERT / UPDATE /
DELETE routed by Impala to the client write API,
docs/kudu_impala_integration.adoc:665-731); this module gives
``Engine.sql`` the same statements so a reference user's DML scripts
run unchanged:

    INSERT [IGNORE] INTO t [(cols)] VALUES (...), (...)
    INSERT [IGNORE] INTO t [(cols)] SELECT ...
    UPSERT INTO t [(cols)] VALUES ... | SELECT ...
    UPDATE [IGNORE] t SET col = expr [, ...] [WHERE pred]
    UPDATE [IGNORE] a SET col = expr FROM t a, s [b] WHERE pred   -- join form
    DELETE [IGNORE] FROM t [WHERE pred]
    DELETE [IGNORE] a FROM t a, s [b] WHERE pred                  -- join form
    MERGE INTO t [AS a] USING src|(subquery) [AS b] ON cond
      WHEN [NOT] MATCHED [AND c] THEN UPDATE SET ... | DELETE | INSERT ...

Execution model: the statement's read side (a SELECT source, a WHERE
predicate, SET right-hand sides) is planned by Spark SQL over the
merge-on-read snapshot views — so subqueries, joins and every builtin
work, predicates push down to parquet, and SET expressions see the OLD
row values (standard SQL UPDATE semantics). The computed batch then
feeds the same ``Table.insert/upsert/update/delete`` paths the Python
API uses (row_operations.proto:36-43), so PK probes, immutable-column
checks, partition routing and commit revalidation are identical.
Statements inside a ``BEGIN`` block and every MERGE clause stage
through the same validation steps (``Table._stage_<op>``, driven by
``writer.Transaction``): an UPDATE or a MERGE matched-update stages
the PK plus the assigned columns only, and errors exactly where the
same UPDATE outside a transaction does (NULL into a non-nullable
column, a SET of an immutable column).

IGNORE maps to Kudu's *_IGNORE ops: INSERT IGNORE skips present keys,
UPDATE IGNORE skips absent keys and immutable-column sets, DELETE
IGNORE skips absent keys (row_operations.proto:40-43). Like Impala,
UPDATE/DELETE never error on rows that simply don't match the WHERE.

Each statement returns a one-row DataFrame
``(operation, table, rows_affected, version)`` — the programmatic
form of Impala's "Modified N row(s)" summary.

Scale: nothing here collects data rows to the driver. VALUES literals
are parsed by Spark as an inline relation; SELECT sources and WHERE
scans stay distributed; ``rows_affected`` is one aggregate job over
the already-computed batch.
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kudu_spark.errors import KuduSparkError, SchemaError
from kudu_spark.table import AUTO_INC_COL

if TYPE_CHECKING:  # pragma: no cover
    from kudu_spark.engine import Engine

_DML_HEAD = re.compile(r"^\s*(INSERT|UPSERT|UPDATE|DELETE|MERGE)\b", re.IGNORECASE)
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def strip_comments(sql: str) -> str:
    """Remove -- line and /* */ block comments outside string literals."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            j = _skip_string(sql, i)
            out.append(sql[i:j])
            i = j
        elif ch == "-" and sql.startswith("--", i):
            while i < n and sql[i] != "\n":
                i += 1
        elif ch == "/" and sql.startswith("/*", i):
            end = sql.find("*/", i + 2)
            i = n if end < 0 else end + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _skip_string(s: str, i: int) -> int:
    """Index just past the string literal opening at s[i] (handles
    backslash escapes and doubled-quote escapes, as Spark SQL does)."""
    q = s[i]
    i += 1
    n = len(s)
    while i < n:
        if s[i] == "\\":
            i += 2
            continue
        if s[i] == q:
            if i + 1 < n and s[i + 1] == q:  # '' / "" escape
                i += 2
                continue
            return i + 1
        i += 1
    return n  # unterminated: let Spark's parser produce the error


def _find_top_level_keyword(s: str, keyword: str) -> int:
    """Index of ``keyword`` as a word at paren depth 0 outside strings,
    or -1. Used to split UPDATE ... SET ... WHERE without being fooled
    by 'WHERE' inside a string literal or subquery."""
    depth = 0
    i, n = 0, len(s)
    kl = len(keyword)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            i = _skip_string(s, i)
        elif ch == "(":
            depth += 1
            i += 1
        elif ch == ")":
            depth -= 1
            i += 1
        elif depth == 0 and s[i:i + kl].upper() == keyword:
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
            after = i + kl
            after_ok = after >= n or not (s[after].isalnum() or s[after] == "_")
            if before_ok and after_ok:
                return i
            i += 1
        else:
            i += 1
    return -1


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0 outside strings."""
    parts, buf = [], []
    depth = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            j = _skip_string(s, i)
            buf.append(s[i:j])
            i = j
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def is_dml(sql: str) -> bool:
    return _DML_HEAD.match(strip_comments(sql)) is not None


def run_dml(engine: "Engine", sql: str, txn=None) -> DataFrame:
    """Execute one DML statement. With ``txn`` (an EngineTransaction,
    from a ``BEGIN``/``COMMIT`` block in ``Engine.sql_script``) the
    computed batch is STAGED instead of committed — all statements of
    the block read the pre-transaction snapshot (Kudu transactions
    likewise give no read-your-writes) and publish atomically at
    COMMIT; the summary's version is -1 until then."""
    text = strip_comments(sql).strip().rstrip(";").strip()
    head = _DML_HEAD.match(text).group(1).upper()
    if head in ("INSERT", "UPSERT"):
        op, table, n, v = _run_insert(engine, text, head, txn)
    elif head == "UPDATE":
        op, table, n, v = _run_update(engine, text, txn)
    elif head == "MERGE":
        op, table, n, v = _run_merge(engine, text, txn)
    else:
        op, table, n, v = _run_delete(engine, text, txn)
    return engine.spark.createDataFrame(
        [(op, table, n, v)],
        "operation string, table string, rows_affected bigint, version bigint",
    )


def _writable_columns(t) -> list[str]:
    """Positional column order for an INSERT without a column list —
    the visible schema minus the hidden auto-increment key (Impala
    likewise hides it from positional inserts)."""
    return [c for c in t.state().schema.names if c != AUTO_INC_COL]


def _parse_column_list(rest: str) -> tuple[list[str] | None, str]:
    if not rest.startswith("("):
        return None, rest
    # a column list is a flat ident list; a parenthesized SELECT is not
    end = rest.find(")")
    if end < 0:
        raise KuduSparkError("unterminated column list in INSERT")
    inner = rest[1:end]
    cols = [c.strip() for c in inner.split(",")]
    if not all(_IDENT.match(c) for c in cols):
        return None, rest  # e.g. INSERT INTO t (SELECT ...) — not a column list
    return cols, rest[end + 1:].lstrip()


def _upsert_fill_unset(t, batch: DataFrame, target: list[str]) -> DataFrame:
    """Partial-column UPSERT parity: Kudu's upsert leaves UNSET columns
    of an existing row untouched (tablet.cc ApplyUpsertAsUpdate turns
    an upsert of a present key into a per-column update), while
    Table.upsert writes whole rows — so a partial column list must
    rebuild full rows here, or existing rows' other columns are
    silently clobbered to defaults/NULL. Unmentioned columns take the
    CURRENT row's value when the key exists, else the column default
    (the insert arm's behavior). One file-pruned snapshot probe
    (``_snapshot_overlapping`` — bounded by the batch's keys, like the
    write paths), never a full scan.

    Known race (ADVICE r7, accepted): the fill reads a snapshot taken
    BEFORE the write publishes, so a concurrent update that commits
    in between is overwritten with the pre-snapshot values for the
    columns this statement never set — a lost-update window Kudu's
    per-column ApplyUpsertAsUpdate doesn't have. The window equals
    the statement's own execution time; detecting it would need a
    publish-time re-probe + refill (cost: a second bounded probe per
    partial UPSERT) for a race Kudu-style ingest pipelines (single
    writer per table) never hit. Concurrent FULL-row upserts are
    unaffected (last-write-wins by seq)."""
    st = t.state()
    pk = st.schema.pk
    if AUTO_INC_COL in pk:
        return batch  # non-unique-PK tables: every upsert row is new
    unset = [c for c in st.schema.names if c not in target]
    if not unset:
        return batch
    missing_keys = [k for k in pk if k not in target]
    if missing_keys:
        raise SchemaError(
            f"UPSERT column list must include every primary key column; "
            f"missing {missing_keys}")
    cur = t._snapshot_overlapping(st, batch.select(*pk)).select(
        *pk, *[F.col(c).alias(f"__cur_{c}") for c in unset]
    ).withColumn("__exists", F.lit(True))
    joined = batch.join(cur, on=pk, how="left")
    return joined.select(
        *[
            F.when(F.col("__exists").isNotNull(), F.col(f"__cur_{c}"))
            .otherwise(F.lit(st.schema.col(c).default)
                       .cast(st.schema.col(c).type)).alias(c)
            if c in unset else F.col(c)
            for c in st.schema.names
        ]
    )


def _run_insert(engine: "Engine", text: str, op: str, txn=None):
    if re.match(r"INSERT\s+OVERWRITE\b", text, re.IGNORECASE):
        raise KuduSparkError(
            "Kudu tables do not support INSERT OVERWRITE (Impala rejects it "
            "too); use DELETE + INSERT, or UPSERT")
    m = re.match(
        r"(INSERT|UPSERT)(\s+IGNORE)?\s+INTO\s+(?:TABLE\s+)?([A-Za-z_]\w*)\s*(.*)$",
        text, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KuduSparkError(f"cannot parse {op} statement")
    ignore = bool(m.group(2))
    name = m.group(3)
    cols, rest = _parse_column_list(m.group(4).strip())
    t = engine.table(name)

    head = rest[:6].upper()
    if head.startswith("VALUES"):
        src = engine.spark.sql("SELECT * FROM " + rest)
    elif head.startswith(("SELECT", "WITH")) or rest.startswith("("):
        engine._register_views(rest)
        src = engine.spark.sql(rest)
    else:
        raise KuduSparkError(f"{op} source must be VALUES or SELECT, got: {rest[:40]!r}")

    target = cols if cols is not None else _writable_columns(t)
    if len(src.columns) != len(target):
        raise SchemaError(
            f"{op} INTO {name}: source has {len(src.columns)} column(s), "
            f"target list has {len(target)}"
        )
    batch = src.toDF(*target)
    if op == "UPSERT" and cols is not None:
        batch = _upsert_fill_unset(t, batch, target)

    if txn is not None:
        if ignore:
            raise KuduSparkError(
                "IGNORE variants are not supported inside BEGIN blocks")
        n = batch.count()
        getattr(txn, op.lower())(name, batch)
        return op, name, n, -1
    if op == "UPSERT":
        n = batch.count()
        v = t.upsert(batch, mode="ignore" if ignore else "error")
        return "UPSERT", name, n, v
    if ignore:
        # rows_affected = batch keys not already present, against ONE
        # bounded key probe (was: the difference of two full-table
        # counts around the write — two extra aggregate jobs, and a
        # concurrent commit between them skewed the number).
        # Accepted TOCTOU (ADVICE r7): a concurrent insert of one of
        # the batch's keys between this probe and the write makes the
        # reported count overstate by that key — the write itself
        # stays correct (insert_ignore revalidates on commit); only
        # the summary number is approximate under concurrency.
        st = t.state()
        if AUTO_INC_COL in st.schema.pk:
            n = batch.count()  # auto-inc keys are fresh: nothing skips
        else:
            pk = st.schema.pk
            uniq = batch.dropDuplicates(pk)
            n = (
                uniq.join(t._existing_pks(st, uniq), on=pk, how="left_anti").count()
                if st.files else uniq.count()
            )
        v = t.insert_ignore(batch)
        return "INSERT", name, n, v
    n = batch.count()
    v = t.insert(batch)
    return "INSERT", name, n, v


def _parse_assignments(set_part: str, pk: list[str], schema_names: list[str]):
    out = []
    for raw in _split_top_level(set_part):
        # LHS is a bare identifier, so the first '=' is the assignment
        eq = raw.find("=")
        if eq < 0:
            raise KuduSparkError(f"malformed SET assignment: {raw.strip()!r}")
        col = raw[:eq].strip()
        rhs = raw[eq + 1:].strip()
        if not _IDENT.match(col):
            raise KuduSparkError(f"SET target must be a column name: {col!r}")
        if col not in schema_names:
            raise SchemaError(f"unknown column {col}")
        if col in pk:
            raise SchemaError(
                f"UPDATE of primary key column {col} (Kudu: key columns "
                "cannot be updated; delete + insert instead)"
            )
        if not rhs:
            raise KuduSparkError(f"empty SET expression for {col}")
        out.append((col, rhs))
    seen = set()
    for col, _ in out:
        if col in seen:
            raise KuduSparkError(f"column {col} assigned twice in SET")
        seen.add(col)
    return out


def _update_select(ta: str, pk: list[str], assigns) -> str:
    """SELECT list of an UPDATE batch: the target's PK plus only the
    assigned columns, so the batch goes through Table.update's checks
    (absent keys, immutable and non-nullable columns)."""
    return ", ".join([*[f"{ta}.{k}" for k in pk],
                      *[f"({rhs}) AS {col}" for col, rhs in assigns]])


def _alias_of(from_clause: str, alias: str) -> str | None:
    """Resolve ``alias`` to its table name inside a FROM clause of
    comma- and/or JOIN-separated ``table [AS] alias`` items. Returns
    None if the alias isn't found (it may BE a bare table name)."""
    segs: list[str] = []
    for part in _split_top_level(from_clause):
        segs.extend(re.split(
            r"\b(?:INNER\s+|LEFT\s+(?:OUTER\s+)?|RIGHT\s+(?:OUTER\s+)?|"
            r"FULL\s+(?:OUTER\s+)?|CROSS\s+)?JOIN\b",
            part, flags=re.IGNORECASE))
    for seg in segs:
        m = re.match(r"\s*([A-Za-z_]\w*)\s+(?:AS\s+)?([A-Za-z_]\w*)",
                     seg, re.IGNORECASE)
        if m and m.group(2).upper() not in ("ON", "WHERE") \
                and m.group(2) == alias:
            return m.group(1)
    return None


def _run_update(engine: "Engine", text: str, txn=None):
    m = re.match(
        r"UPDATE(\s+IGNORE)?\s+([A-Za-z_]\w*)\s+SET\b(.*)$",
        text, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KuduSparkError("cannot parse UPDATE statement")
    ignore = bool(m.group(1))
    target = m.group(2)
    body = m.group(3)
    fi = _find_top_level_keyword(body, "FROM")
    wi = _find_top_level_keyword(body, "WHERE")
    set_end = min(x for x in (fi, wi, len(body)) if x >= 0)
    set_part = body[:set_end]
    from_clause = body[fi + 4:wi if wi > fi else len(body)].strip() if fi >= 0 else None
    where = body[wi + 5:].strip() if wi >= 0 else None

    # Impala's join form: UPDATE <alias> SET ... FROM t <alias>, s ...
    # (kudu_impala_integration.adoc:695-715 shows the DELETE twin);
    # the UPDATE target may be an alias defined in the FROM clause
    name, ta = target, target
    if from_clause:
        resolved = _alias_of(from_clause, target)
        if resolved:
            name = resolved
    t = engine.table(name)
    st = t.state()
    pk = st.schema.pk
    assigns = _parse_assignments(set_part, pk, st.schema.names)

    engine._register_views(text)
    sel = _update_select(ta, pk, assigns)
    rel = from_clause if from_clause else f"{name} {ta}"
    stmt = f"SELECT {sel} FROM {rel}" + (f" WHERE {where}" if where else "")
    computed = engine.spark.sql(stmt)
    if from_clause:
        # the join form may match one target row more than once; MERGE
        # raises on that condition (SQL:2003 14.9 GR 6) and UPDATE must
        # agree — a silent dropDuplicates picks an arbitrary source row
        pks = ", ".join(f"{ta}.{c}" for c in pk)
        dup = engine.spark.sql(
            f"SELECT 1 FROM {rel}" + (f" WHERE {where}" if where else "")
            + f" GROUP BY {pks} HAVING count(*) > 1 LIMIT 1"
        ).collect()
        if dup:
            raise KuduSparkError(
                "UPDATE cardinality violation: the FROM join matches a "
                "target row more than once, so the result would be "
                "nondeterministic (same check as MERGE, SQL:2003 14.9 "
                "GR 6); aggregate the source to one row per key first")
    batch = computed.dropDuplicates(pk)
    n = batch.count()
    if txn is not None:
        if ignore:
            raise KuduSparkError(
                "IGNORE variants are not supported inside BEGIN blocks")
        if n:
            txn.update(name, batch)
        return "UPDATE", name, n, -1
    if n:
        # rows come from the snapshot, so error-mode missing-key checks
        # can only fire on a concurrent delete (a real write-write
        # conflict, surfaced as RowNotFoundError unless IGNORE)
        v = t.update(batch, mode="ignore" if ignore else "error")
    else:
        v = t.version
    return "UPDATE", name, n, v


def _run_delete(engine: "Engine", text: str, txn=None):
    m = re.match(
        r"DELETE(\s+IGNORE)?\s+(?:([A-Za-z_]\w*)\s+)?FROM\s+(.*)$",
        text, re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise KuduSparkError("cannot parse DELETE statement")
    ignore = bool(m.group(1))
    target_alias = m.group(2)
    rest = m.group(3).strip()
    wi = _find_top_level_keyword(rest, "WHERE")
    from_clause = rest[:wi].strip() if wi >= 0 else rest
    where = rest[wi + 5:].strip() if wi >= 0 else None

    if target_alias:
        # Impala's join form: DELETE c FROM t c, s WHERE c.x = s.y
        # (kudu_impala_integration.adoc:713-715)
        name = _alias_of(from_clause, target_alias) or target_alias
        ta = target_alias
        rel = from_clause
    else:
        nm = re.match(r"([A-Za-z_]\w*)\s*$", from_clause)
        if not nm:
            raise KuduSparkError(
                f"DELETE without a target alias takes one table, got: "
                f"{from_clause[:40]!r} (use DELETE <alias> FROM ... for joins)")
        name = ta = nm.group(1)
        rel = f"{name} {ta}"

    t = engine.table(name)
    pk = t.state().schema.pk
    engine._register_views(text)
    sel = ", ".join(f"{ta}.{k} AS {k}" for k in pk)
    stmt = f"SELECT DISTINCT {sel} FROM {rel}" + (f" WHERE {where}" if where else "")
    keys = engine.spark.sql(stmt)
    n = keys.count()
    if txn is not None:
        if n:
            txn.delete(name, keys)
        return "DELETE", name, n, -1
    if n:
        v = t.delete(keys, mode="ignore" if ignore else "error")
    else:
        v = t.version
    return "DELETE", name, n, v


# -- MERGE INTO ------------------------------------------------------------
#
# MERGE INTO t [AS a] USING src|(subquery) [AS b] ON cond
#   WHEN MATCHED [AND c] THEN UPDATE SET col = expr [, ...]
#   WHEN MATCHED [AND c] THEN DELETE
#   WHEN NOT MATCHED [AND c] THEN INSERT [(cols)] VALUES (exprs)
#
# The statement Impala 4.x routes to Kudu write ops and the standard
# lakehouse upsert pattern. Per-row semantics: the FIRST matching WHEN
# clause applies (implemented as NOT(prior conditions) chains); a
# source matching one target row more than once is a cardinality
# violation (SQL standard; checked with one aggregate probe). All
# clause batches are computed against the pre-merge snapshot views,
# then staged into ONE Table Transaction — atomic visibility, same
# validation and revalidating commit as the Python API (a matched
# UPDATE stages Table.update's per-column op, not a full-row upsert).


def _parse_alias(s: str) -> tuple[str, str | None, str]:
    """Parse `ident [AS] [alias]` prefix; returns (ident, alias, rest)."""
    m = re.match(r"([A-Za-z_]\w*)\s*(.*)$", s, re.DOTALL)
    if not m:
        raise KuduSparkError(f"expected identifier at: {s[:40]!r}")
    ident, rest = m.group(1), m.group(2)
    am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)\s*(.*)$", rest, re.IGNORECASE | re.DOTALL)
    if am and am.group(1).upper() not in ("ON", "USING", "WHEN"):
        return ident, am.group(1), am.group(2)
    return ident, None, rest


def _matching_paren(s: str, start: int) -> int:
    """Index of the ')' closing the '(' at s[start] (string-aware)."""
    depth = 0
    i, n = start, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            i = _skip_string(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise KuduSparkError("unbalanced parentheses in MERGE source")


def _split_when_clauses(s: str) -> tuple[str, list[str]]:
    """Split `<on_cond> WHEN ... WHEN ...` on top-level WHEN keywords."""
    bounds = []
    i = 0
    while True:
        j = _find_top_level_keyword(s[i:], "WHEN")
        if j < 0:
            break
        bounds.append(i + j)
        i = i + j + 4
    if not bounds:
        raise KuduSparkError("MERGE requires at least one WHEN clause")
    on_cond = s[:bounds[0]].strip()
    clauses = [
        s[b:e].strip() for b, e in zip(bounds, bounds[1:] + [len(s)])
    ]
    return on_cond, clauses


def _parse_when(clause: str) -> dict:
    m = re.match(r"WHEN\s+(NOT\s+)?MATCHED\b(.*)$", clause, re.IGNORECASE | re.DOTALL)
    if not m:
        raise KuduSparkError(f"cannot parse WHEN clause: {clause[:60]!r}")
    matched = not m.group(1)
    rest = m.group(2).strip()
    cond = None
    if rest[:3].upper() == "AND":
        ti = _find_top_level_keyword(rest, "THEN")
        if ti < 0:
            raise KuduSparkError(f"WHEN clause missing THEN: {clause[:60]!r}")
        cond = rest[3:ti].strip()
        rest = rest[ti:]
    if rest[:4].upper() != "THEN":
        raise KuduSparkError(f"WHEN clause missing THEN: {clause[:60]!r}")
    action = rest[4:].strip()
    au = action.upper()
    if matched and au.startswith("UPDATE"):
        sm = re.match(r"UPDATE\s+SET\b(.*)$", action, re.IGNORECASE | re.DOTALL)
        if not sm:
            raise KuduSparkError(f"malformed UPDATE action: {action[:60]!r}")
        return {"matched": True, "cond": cond, "action": "update",
                "set": sm.group(1).strip()}
    if matched and au == "DELETE":
        return {"matched": True, "cond": cond, "action": "delete"}
    if not matched and au.startswith("INSERT"):
        rest2 = action[6:].strip()
        cols = None
        if rest2.startswith("("):
            end = _matching_paren(rest2, 0)
            inner = [c.strip() for c in rest2[1:end].split(",")]
            if all(_IDENT.match(c) for c in inner):
                cols = inner
                rest2 = rest2[end + 1:].strip()
        vm = re.match(r"VALUES\s*\((.*)\)\s*$", rest2, re.IGNORECASE | re.DOTALL)
        if not vm:
            raise KuduSparkError(
                f"NOT MATCHED action must be INSERT [(cols)] VALUES (...): {action[:60]!r}")
        exprs = [e.strip() for e in _split_top_level(vm.group(1))]
        return {"matched": False, "cond": cond, "action": "insert",
                "cols": cols, "exprs": exprs}
    raise KuduSparkError(
        "WHEN MATCHED allows UPDATE SET/DELETE; WHEN NOT MATCHED allows INSERT "
        f"— got: {action[:60]!r}")


def _run_merge(engine: "Engine", text: str, txn=None):
    """Standalone MERGE runs as its own single-table Transaction;
    inside a BEGIN block (``txn`` = the EngineTransaction) the clause
    batches are STAGED into the block's per-table participant instead
    — MERGE then publishes atomically WITH the rest of the block at
    COMMIT (Kudu txns cover arbitrary row ops across sessions,
    client.h:445-545). Clause batches always read the pre-transaction
    snapshot (nothing publishes before COMMIT), like every other
    staged statement."""
    from kudu_spark.writer import Transaction

    m = re.match(r"MERGE\s+INTO\s+(.*)$", text, re.IGNORECASE | re.DOTALL)
    if not m:
        raise KuduSparkError("cannot parse MERGE statement")
    name, t_alias, rest = _parse_alias(m.group(1).strip())
    um = re.match(r"USING\s+(.*)$", rest, re.IGNORECASE | re.DOTALL)
    if not um:
        raise KuduSparkError("MERGE requires USING <source>")
    rest = um.group(1).strip()
    if rest.startswith("("):
        end = _matching_paren(rest, 0)
        src_rel = rest[:end + 1]
        rest = rest[end + 1:].strip()
        am = re.match(r"(?:AS\s+)?([A-Za-z_]\w*)\s*(.*)$", rest,
                      re.IGNORECASE | re.DOTALL)
        if not am or am.group(1).upper() == "ON":
            raise KuduSparkError("a subquery MERGE source needs an alias")
        s_alias, rest = am.group(1), am.group(2)
    else:
        src_name, s_alias, rest = _parse_alias(rest)
        src_rel = src_name
        s_alias = s_alias or src_name
    om = re.match(r"ON\b(.*)$", rest.strip(), re.IGNORECASE | re.DOTALL)
    if not om:
        raise KuduSparkError("MERGE requires ON <condition>")
    on_cond, when_parts = _split_when_clauses(om.group(1).strip())
    clauses = [_parse_when(c) for c in when_parts]

    t = engine.table(name)
    st = t.state()
    pk = st.schema.pk
    ta = t_alias or name
    engine._register_views(text)
    spark = engine.spark

    def prior_not(idx: int, matched: bool) -> str:
        terms = []
        for c in clauses[:idx]:
            if c["matched"] is not matched:
                continue
            terms.append(f"NOT ({c['cond']})" if c["cond"] else "FALSE")
        return " AND ".join(terms)

    def where_of(idx: int) -> str:
        # always parenthesize: a clause condition like `a = 1 or b = 2`
        # must not re-associate against the NOT(prior) chain
        c = clauses[idx]
        parts = [p for p in (c["cond"], prior_not(idx, c["matched"])) if p]
        return " AND ".join(f"({p})" for p in parts)

    join_from = f"FROM {name} {ta} JOIN {src_rel} {s_alias} ON {on_cond}"

    if any(c["matched"] for c in clauses):
        pks = ", ".join(f"{ta}.{c}" for c in pk)
        dup = spark.sql(
            f"SELECT 1 {join_from} GROUP BY {pks} HAVING count(*) > 1 LIMIT 1"
        ).collect()
        if dup:
            raise KuduSparkError(
                "MERGE cardinality violation: a target row matches more than "
                "one source row (SQL:2003 14.9 GR 6; Kudu applies row ops "
                "once, so the result would be nondeterministic)")

    part = txn._txn(name) if txn is not None else Transaction(t)
    total = 0
    try:
        for i, c in enumerate(clauses):
            w = where_of(i)
            if c["action"] == "update":
                sel = _update_select(
                    ta, pk, _parse_assignments(c["set"], pk, st.schema.names))
                batch = spark.sql(f"SELECT {sel} {join_from}"
                                  + (f" WHERE {w}" if w else ""))
                n = batch.count()
                if n:
                    part.update(batch)
            elif c["action"] == "delete":
                sel = ", ".join(f"{ta}.{k} AS {k}" for k in pk)
                batch = spark.sql(f"SELECT {sel} {join_from}"
                                  + (f" WHERE {w}" if w else ""))
                n = batch.count()
                if n:
                    part.delete(batch)
            else:  # insert (not matched)
                target = c["cols"] if c["cols"] is not None else _writable_columns(t)
                if len(c["exprs"]) != len(target):
                    raise SchemaError(
                        f"MERGE INSERT: {len(c['exprs'])} value(s) for "
                        f"{len(target)} column(s)")
                sel = ", ".join(f"({e}) AS {col}" for e, col in zip(c["exprs"], target))
                anti = (f"SELECT {sel} FROM {src_rel} {s_alias} WHERE NOT EXISTS "
                        f"(SELECT 1 FROM {name} {ta} WHERE {on_cond})")
                batch = spark.sql(anti + (f" AND ({w})" if w else ""))
                n = batch.count()
                if n:
                    part.insert(batch)
            total += n
        if txn is not None:
            v = -1  # staged; the block's COMMIT reports the publish
        elif part._staged:
            v = part.commit()
        else:
            part.rollback()
            v = t.version
    except Exception:
        # a failure inside a BEGIN block aborts the WHOLE block —
        # sql_script's handler rolls the EngineTransaction back, so a
        # partially-staged MERGE never survives
        if txn is None and part._open:
            part.rollback()
        raise
    return "MERGE", name, total, v


# -- AS-OF clause extraction (SQL-level time travel) ------------------------


def _string_spans(s: str) -> list[tuple[int, int]]:
    spans, i, n = [], 0, len(s)
    while i < n:
        if s[i] in ("'", '"'):
            j = _skip_string(s, i)
            spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def extract_as_of(text: str) -> tuple[str, dict]:
    """Strip ``<table> VERSION AS OF <n>`` / ``<table> TIMESTAMP AS OF
    '<iso>'`` clauses (any nesting depth, never inside string
    literals) and return (clean_text, pins) where pins maps table ->
    {"version": n} or {"timestamp_ms": ms} — the SQL spelling of
    READ_AT_SNAPSHOT (common.proto:268; same syntax as Delta/Iceberg
    SQL time travel so lakehouse queries port verbatim). Two different
    pins for the same table in one statement raise."""
    import datetime

    pat = re.compile(
        r"([A-Za-z_]\w*)\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+"
        r"(\d+|'[^']*'|\"[^\"]*\")",
        re.IGNORECASE)
    spans = _string_spans(text)
    pins: dict = {}
    out = []
    last = 0
    for m in pat.finditer(text):
        if any(a <= m.start() < b for a, b in spans):
            continue
        name, kind, val = m.group(1), m.group(2).upper(), m.group(3)
        if kind == "VERSION":
            if not val.isdigit():
                raise KuduSparkError(f"VERSION AS OF needs an integer, got {val}")
            pin = {"version": int(val)}
        else:
            raw = val[1:-1] if val[:1] in "'\"" else val
            if raw.isdigit():
                ms = int(raw)
            else:
                try:
                    dt = datetime.datetime.fromisoformat(raw)
                except ValueError:
                    raise KuduSparkError(
                        f"TIMESTAMP AS OF needs an ISO datetime or epoch-ms, got {val}")
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=datetime.timezone.utc)
                ms = int(dt.timestamp() * 1000)
            pin = {"timestamp_ms": ms}
        if name in pins and pins[name] != pin:
            raise KuduSparkError(
                f"conflicting AS OF pins for table {name} in one statement")
        pins[name] = pin
        out.append(text[last:m.start()])
        out.append(m.group(1))  # keep the table reference itself
        last = m.end()
    out.append(text[last:])
    return "".join(out), pins
