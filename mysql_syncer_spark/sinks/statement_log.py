"""Ordered, replayable SQL statement log — S18 at full fidelity.

The reference's ``LOG_QUERIES`` mode writes every mutating statement to
a query log as it executes (settings.php.tmpl:25-30; the Synchronizer
composes DELETE-before-INSERT per table, Synchronizer.php:496-517).
:class:`StatementLog` reproduces that artifact: a single ``queries.sql``
file whose statements, replayed IN ORDER through any DBAPI connection,
transform the pre-sync slave into the converged slave exactly. Because
statements are composed from the planned delta frames (not captured
from executed writes), ``dry_run=True`` + ``log_statements`` yields the
same file without touching the slave — a replayable PREVIEW.

Renderers are the sinks' own (:func:`~mysql_syncer_spark.sinks.jdbc
.insert_sql` / :func:`~mysql_syncer_spark.sinks.jdbc.delete_sql`), with
the same chunking and the same per-chunk delete-before-insert upsert
order as :func:`~mysql_syncer_spark.sinks.jdbc.apply_replace`, so the
log is byte-for-byte the statement stream the distributed sinks issue
(modulo partition interleaving, which the file serializes).

Concurrency: the file is serial, its rendering is not. Each block
(one table's drop, full copy or delta) renders into a private
temporary file beside the log with no lock held, so concurrent sync
units run their Spark jobs side by side; only appending the finished
block to the log takes the lock. A block is therefore contiguous in the
file, and a render that fails appends nothing — the log never holds a
table's DELETEs without their INSERTs.

Scale note: the emitter streams delta frames through
``toLocalIterator``, one Spark job per partition of the frame; the
executor hands it deltas coalesced to ``⌈rows / chunk_size⌉``
partitions, so a delta streams in chunk-sized partitions whatever the
master's file count. Driver memory stays one-partition-bounded (the
rendered block is on disk, not in RAM), but emitting a 100 TB first
sync as SQL text is not the intended use — the log is for audit and
replay of incremental deltas, like the reference's.
"""

from __future__ import annotations

import itertools
import os
import shutil
import tempfile
import threading
from typing import Sequence

from pyspark.sql import DataFrame

from mysql_syncer_spark.sinks.jdbc import (
    delete_sql,
    insert_sql,
    quote_ident,
)


class StatementLog:
    """Append-ordered SQL file; one instance per sync run.

    Thread-safe: concurrent sync units (FAIR-pool tables) render their
    blocks concurrently, each into its own temporary file, and append a
    finished block under a lock, so one table's statements are
    contiguous in the file even under ``max_parallel_tables > 1``.
    """

    def __init__(
        self,
        path: str,
        quote: str = '"',
        backslash_escapes: bool = False,
        chunk_size: int = 5000,
    ):
        self.path = path
        self.quote = quote
        self.backslash_escapes = backslash_escapes
        self.chunk_size = chunk_size
        self._lock = threading.Lock()
        with open(path, "w") as f:
            f.write(
                "-- mysql_syncer_spark statement log (replayable)\n"
                f"-- mode: backslash_escapes={backslash_escapes}\n"
            )

    def _append(self, lines) -> None:
        """Render ``lines`` into a temporary file in the log's directory
        (no lock held: the generator runs the Spark jobs), then append
        the whole block under the lock. A failed render appends
        nothing."""
        fd, tmp = tempfile.mkstemp(
            dir=os.path.dirname(os.path.abspath(self.path)),
            prefix=os.path.basename(self.path) + ".", suffix=".block",
        )
        try:
            with os.fdopen(fd, "w") as f:
                for line in lines:
                    f.write(line)
            with self._lock, open(tmp) as src, open(self.path, "a") as dst:
                shutil.copyfileobj(src, dst)
        finally:
            os.remove(tmp)

    # -- statement blocks (each call = one contiguous file block) ------

    def log_drop(self, table: str) -> None:
        q = quote_ident(table, self.quote)
        self._append([f"-- drop {table}\n", f"DROP TABLE IF EXISTS {q};\n"])

    def log_full_copy(
        self, table: str, create_sql: str, rows: DataFrame
    ) -> None:
        """DROP + CREATE + chunked INSERTs (copyTable,
        Synchronizer.php:330-354)."""
        q = quote_ident(table, self.quote)
        cols = rows.columns

        def gen():
            yield f"-- full copy {table}\n"
            yield f"DROP TABLE IF EXISTS {q};\n"
            yield create_sql.rstrip().rstrip(";") + ";\n"
            it = (tuple(r[c] for c in cols) for r in rows.toLocalIterator())
            for chunk in _chunks(it, self.chunk_size):
                yield insert_sql(
                    table, cols, chunk, self.quote, self.backslash_escapes
                ) + ";\n"

        self._append(gen())

    def log_delta(
        self,
        table: str,
        pk_cols: Sequence[str],
        inserts: DataFrame,
        deletes: DataFrame,
    ) -> None:
        """The diff-sync hot path: excess-key DELETEs first, then the
        replace stream (per-chunk delete-before-insert) — the
        reference's PK-collision ordering (Synchronizer.php:496-517)
        exactly as apply_deletes + apply_replace execute it."""
        pks = list(pk_cols)
        cols = inserts.columns
        idx = [cols.index(c) for c in pks]

        def gen():
            yield f"-- delta {table}\n"
            key_it = (
                tuple(r[c] for c in pks)
                for r in deletes.select(*pks).toLocalIterator()
            )
            for chunk in _chunks(key_it, self.chunk_size):
                yield delete_sql(
                    table, pks, chunk, self.quote, self.backslash_escapes
                ) + ";\n"
            row_it = (
                tuple(r[c] for c in cols) for r in inserts.toLocalIterator()
            )
            for chunk in _chunks(row_it, self.chunk_size):
                yield delete_sql(
                    table, pks, [[r[i] for i in idx] for r in chunk],
                    self.quote, self.backslash_escapes,
                ) + ";\n"
                yield insert_sql(
                    table, cols, chunk, self.quote, self.backslash_escapes
                ) + ";\n"

        self._append(gen())

    # -- replay ---------------------------------------------------------

    @staticmethod
    def replay(path: str, connection) -> int:
        """Execute every statement in ``path`` through a DBAPI
        connection, in file order; returns the statement count. The
        inverse direction of the emitter — what a DBA's ``mysql <
        queries.sql`` does with the reference's log."""
        n = 0
        with open(path) as f:
            text = f.read()
        cur = connection.cursor()
        for stmt in _split_statements(text):
            cur.execute(stmt)
            n += 1
        connection.commit()
        return n


def _chunks(it, size: int):
    while True:
        chunk = list(itertools.islice(it, size))
        if not chunk:
            return
        yield chunk


def _split_statements(text: str):
    """Split the emitted file back into statements — an exact inverse
    for OUR files (not a general SQL splitter): a quote-state scanner
    that understands ``''`` doubling, the optional backslash-escape
    mode (recorded in the file header), ``X'..'`` hex literals, and
    ``--`` line comments outside strings. String values may contain
    raw newlines and semicolons; the scanner never splits inside a
    quoted literal."""
    backslash = "backslash_escapes=True" in text[:200]
    out: list[str] = []
    in_str = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            out.append(ch)
            if backslash and ch == "\\":
                if i + 1 < n:
                    out.append(text[i + 1])
                    i += 2
                    continue
            elif ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_str = False
            i += 1
            continue
        if ch == "'":
            in_str = True
            out.append(ch)
            i += 1
            continue
        if ch == "-" and i + 1 < n and text[i + 1] == "-":
            while i < n and text[i] != "\n":
                i += 1
            continue
        if ch == ";":
            stmt = "".join(out).strip()
            if stmt:
                yield stmt
            out = []
            i += 1
            continue
        out.append(ch)
        i += 1
    tail = "".join(out).strip()
    if tail:
        yield tail
