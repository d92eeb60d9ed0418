"""Expected replay results computed in DuckDB, apart from the engine.

The final table is the base with every doc's last valid change applied in
``(seq, part)`` order. Winners are picked on the narrow columns first and
the token payload is joined back afterwards; a one-pass ``DISTINCT ON``
over the wide rows is orders of magnitude slower. The validation contract
is the one ``cdc/oracle.replay_oracle`` states: an insert or update with
null tokens, or an unknown op, is an error and never applied; a delete of
an unknown doc is a no-op; a redelivered ``(part, seq)`` applies once;
``n_tok`` is the token count.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa

_ERROR = (
    "(op IS NULL OR op NOT IN ('insert', 'update', 'delete') "
    "OR (op <> 'delete' AND tokens IS NULL))"
)


def _paths(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


class Expected:
    """Expected state and bookkeeping for a base file plus feed files."""

    def __init__(self, base: str | None, feed: list[str], threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute("SET enable_progress_bar = false")
        self.con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet({_paths(feed)})")
        self.con.execute(
            f"""CREATE TABLE narrow AS
            SELECT DISTINCT seq, part, op, doc_id, {_ERROR} AS is_err FROM ev"""
        )
        self.con.execute(
            """CREATE TABLE win AS
            SELECT n.doc_id, n.op, n.seq, n.part
            FROM (SELECT doc_id, max(seq * 65536 + part) AS pk
                  FROM narrow WHERE NOT is_err GROUP BY doc_id) w
            JOIN narrow n
              ON n.seq * 65536 + n.part = w.pk AND n.doc_id = w.doc_id"""
        )
        base_rows = (
            f"""SELECT b.doc_id, b.tokens, len(b.tokens)::INTEGER AS n_tok, b.source
            FROM read_parquet({_paths([base])}) b ANTI JOIN win USING (doc_id)
            UNION ALL """
            if base
            else ""
        )
        self.con.execute(
            f"""CREATE TABLE expected AS
            {base_rows}
            SELECT w.doc_id, first(e.tokens) AS tokens,
                   len(first(e.tokens))::INTEGER AS n_tok, first(e.source) AS source
            FROM win w JOIN ev e ON e.seq = w.seq AND e.part = w.part
            WHERE w.op <> 'delete'
            GROUP BY w.doc_id"""
        )

    def close(self) -> None:
        self.con.close()

    def state(self) -> dict[str, tuple[tuple[int, ...], int, str]]:
        """``{doc_id: (tokens, n_tok, source)}``, the oracle's shape."""
        out = {}
        for doc, toks, n, src in self.con.execute(
            "SELECT doc_id, tokens, n_tok, source FROM expected"
        ).fetchall():
            out[doc] = (tuple(toks), n, src)
        return out

    def errors_distinct(self) -> int:
        """Distinct ``(part, seq)`` deliveries the engine must route."""
        return self.con.execute(
            "SELECT count(*) FROM narrow WHERE is_err"
        ).fetchone()[0]

    def checkpoint(self) -> dict[int, int]:
        return {
            int(p): int(s)
            for p, s in self.con.execute(
                "SELECT part, max(seq) FROM ev GROUP BY part"
            ).fetchall()
        }

    def mismatches(self, got: pa.Table) -> int:
        """Docs that are missing, unexpected, duplicated, or differ in
        ``tokens``, ``n_tok`` or ``source`` between ``got`` and the
        expected state."""
        self.con.register("got", got)
        try:
            diff = self.con.execute(
                """SELECT count(*) FROM expected e FULL OUTER JOIN got g
                   ON e.doc_id = g.doc_id
                   WHERE e.doc_id IS NULL OR g.doc_id IS NULL
                      OR e.tokens IS DISTINCT FROM g.tokens
                      OR e.n_tok IS DISTINCT FROM g.n_tok
                      OR e.source IS DISTINCT FROM g.source"""
            ).fetchone()[0]
            dups = self.con.execute(
                "SELECT count(*) - count(DISTINCT doc_id) FROM got"
            ).fetchone()[0]
        finally:
            self.con.unregister("got")
        return int(diff) + int(dups)
