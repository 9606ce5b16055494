"""Quidem-style SQL script runner ≈ the reference's scripted-E2E tier
(testkit/src/main/java/org/apache/calcite/test/QuidemTest.java:99,
CoreQuidemTest.java; 46 `.iq` scripts under core/src/test/resources/sql/
— agg.iq, join.iq, set-op.iq, sort.iq, winagg.iq, sub-query.iq, ...).

Script format (a documented subset of Quidem's):

    # comment
    !use sf0.001                 -- pick a dataset alias
    SELECT ... ;                 -- statement, terminated by ';'
    !ok                          -- execute, compare to expected block
    col_a, col_b                 -- expected: header line,
    A, 1                         --   one CSV-ish line per row,
    B, 2                         --   NULL for nulls, floats to 6dp,
    (2 rows)                     --   terminated by the row-count line
    !oracle                      -- execute on Spark AND DuckDB, compare
                                 --   engines to each other (no block)
    !plan                        -- physical-plan fragment check:
    BroadcastHashJoin            --   every line must appear as a
                                 --   substring; block ends at blank
    !error some message          -- statement must fail, message must
                                 --   contain the text
    !stream col_a, col_b         -- statement must return an UNBOUNDED
                                 --   (isStreaming) DataFrame with
                                 --   exactly these columns; nothing is
                                 --   collected (stream.iq tier)

Differences from Quidem, on purpose: `!oracle` replaces most committed
expected blocks (a cross-engine value check beats a self-recorded
snapshot — the driver's t2 gate philosophy), and expected tables are
flat CSV-ish lines instead of bordered ASCII tables (stable under
column-width changes). Rows compare order-insensitively unless the
statement has a top-level ORDER BY — Quidem's rule.

`overwrite=True` re-records `!ok` blocks in place ≈ DiffRepository's
-Dquidem.overwrite workflow (testkit/.../DiffRepository.java).
"""

from __future__ import annotations

import decimal
import re
from dataclasses import dataclass, field

from calcite_spark.sql import lexer


@dataclass
class ScriptResult:
    path: str
    passed: int = 0
    failed: list = field(default_factory=list)  # (lineno, sql, message)

    @property
    def ok(self) -> bool:
        return not self.failed


_ROWCOUNT_RE = re.compile(r"^\((\d+) rows?\)$")


def _fmt_val(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        s = f"{round(v, 6):.6f}".rstrip("0").rstrip(".")
        return s if s not in ("", "-") else "0"
    if isinstance(v, decimal.Decimal):
        # scale is formatting, not value: Spark's DECIMAL(38,18) for a
        # bare ::numeric prints 2.500000000000000000 where DuckDB's
        # DECIMAL(18,3) prints 2.500 — strip trailing fraction zeros
        # so equal values compare equal (r13, ADVICE item 5)
        s = str(v)
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s if s not in ("", "-") else "0"
    return str(v)


def _has_top_level_order_by(sql: str) -> bool:
    return lexer.find_top_level(sql, r"ORDER\s+BY") >= 0


def format_result(df, ordered: bool) -> list[str]:
    """The canonical expected-block text for a DataFrame result."""
    cols = df.columns
    rows = [", ".join(_fmt_val(v) for v in r) for r in df.collect()]
    if not ordered:
        rows.sort()
    return [", ".join(cols), *rows, f"({len(rows)} row{'s' if len(rows) != 1 else ''})"]


class QuidemRunner:
    """Runs one script against a SqlFrontend (Spark) and, for `!oracle`
    directives, a DuckDB connection with the same tables mounted."""

    def __init__(self, frontend_for_use, duck_for_use=None):
        """frontend_for_use: {alias -> SqlFrontend}; duck_for_use:
        {alias -> duckdb connection} (only needed for !oracle)."""
        self.frontends = frontend_for_use
        self.ducks = duck_for_use or {}

    def run_file(self, path: str, overwrite: bool = False) -> ScriptResult:
        with open(path) as f:
            lines = f.read().splitlines()
        res = ScriptResult(path)
        out_lines: list[str] = []
        use = next(iter(self.frontends))
        i, n = 0, len(lines)
        sql: str | None = None
        sql_line = 0
        while i < n:
            line = lines[i]
            stripped = line.strip()
            if stripped.startswith("#") or not stripped:
                out_lines.append(line)
                i += 1
                continue
            if stripped.startswith("!use"):
                use = stripped.split()[1]
                if use not in self.frontends:
                    raise ValueError(f"{path}:{i + 1}: unknown !use alias {use!r}")
                out_lines.append(line)
                i += 1
                continue
            if stripped.startswith("!"):
                i = self._directive(
                    res, out_lines, lines, i, sql, sql_line, use, overwrite
                )
                continue
            # accumulate a SQL statement; full-line `--` comments are
            # kept in the file but dropped from the executed text — the
            # DDL/DML statement patterns are anchored at its first word
            sql_line = i + 1
            buf = []
            while i < n:
                buf.append(lines[i])
                if lines[i].rstrip().endswith(";"):
                    break
                i += 1
            # drop the lines that are `--` comments (ADVICE r6): a line
            # starting with `--` INSIDE a multi-line string literal is
            # literal content, not a comment — dropping it would
            # silently alter the executed SQL
            text = "\n".join(buf)
            comments = {
                r[0] for r in lexer.regions(text) if text.startswith("--", r[0])
            }
            sql_lines, pos = [], 0
            for ln in buf:
                if pos + len(ln) - len(ln.lstrip()) not in comments:
                    sql_lines.append(ln)
                pos += len(ln) + 1
            sql = "\n".join(sql_lines).rstrip().rstrip(";")
            out_lines.extend(buf)
            i += 1
        if overwrite:
            with open(path, "w") as f:
                f.write("\n".join(out_lines) + "\n")
        return res

    # -- directive execution ------------------------------------------

    def _directive(self, res, out_lines, lines, i, sql, sql_line, use, overwrite):
        d = lines[i].strip()
        fe = self.frontends[use]
        if sql is None:
            raise ValueError(f"{res.path}:{i + 1}: directive {d!r} before any SQL")

        if d == "!ok":
            out_lines.append(lines[i])
            expected, j = self._read_ok_block(lines, i + 1)
            try:
                got = format_result(fe.sql(sql), _has_top_level_order_by(sql))
            except Exception as e:  # surface as failure, keep going
                res.failed.append((sql_line, sql, f"execution error: {e}"))
                out_lines.extend(lines[i + 1 : j])
                return j
            if overwrite:
                out_lines.extend(got)
                res.passed += 1
                return j
            if got != expected:
                res.failed.append(
                    (sql_line, sql, f"expected {expected!r}, got {got!r}")
                )
            else:
                res.passed += 1
            out_lines.extend(lines[i + 1 : j])
            return j

        if d == "!oracle":
            out_lines.append(lines[i])
            duck = self.ducks.get(use)
            if duck is None:
                raise ValueError(f"{res.path}:{i + 1}: no DuckDB mount for {use!r}")
            try:
                ordered = _has_top_level_order_by(sql)
                got = format_result(fe.sql(sql), ordered)
                # fetchall (NOT .df()): pandas coerces DATE columns to
                # midnight Timestamps, which format as
                # 'YYYY-MM-DD 00:00:00' and spuriously mismatch Spark's
                # datetime.date; raw fetch keeps python date/datetime
                # objects whose str() matches Spark's collect() exactly
                rel = duck.execute(sql)
                ocols = [d[0] for d in rel.description]
                orows = [
                    ", ".join(
                        _fmt_val(None if v != v else v)
                        if isinstance(v, float)
                        else _fmt_val(v)
                        for v in r
                    )
                    for r in rel.fetchall()
                ]
                if not ordered:
                    orows.sort()
                want = [
                    ", ".join(ocols),
                    *orows,
                    f"({len(orows)} row{'s' if len(orows) != 1 else ''})",
                ]
            except Exception as e:
                res.failed.append((sql_line, sql, f"execution error: {e}"))
                return i + 1
            if got != want:
                res.failed.append(
                    (sql_line, sql, f"spark {got!r} != duckdb {want!r}")
                )
            else:
                res.passed += 1
            return i + 1

        if d == "!plan":
            out_lines.append(lines[i])
            frags, j = self._read_block_until_blank(lines, i + 1)
            try:
                plan = (
                    fe.sql(sql)
                    ._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
            except Exception as e:
                res.failed.append((sql_line, sql, f"execution error: {e}"))
                out_lines.extend(lines[i + 1 : j])
                return j
            missing = [f for f in frags if f.strip() and f.strip() not in plan]
            if missing:
                res.failed.append(
                    (sql_line, sql, f"plan fragments not found: {missing}")
                )
            else:
                res.passed += 1
            out_lines.extend(lines[i + 1 : j])
            return j

        if d.startswith("!error"):
            out_lines.append(lines[i])
            want = d[len("!error") :].strip()
            try:
                # DDL statements must fail through the same executor
                # that !ddl uses — spark.sql would raise its own parse
                # error instead of the executor's semantic one
                if re.match(r"\s*(CREATE|DROP|ANALYZE)\b", sql, re.I):
                    self._ddl(fe).execute(sql)
                else:
                    fe.sql(sql).collect()
            except Exception as e:
                if want.lower() in str(e).lower():
                    res.passed += 1
                else:
                    res.failed.append(
                        (sql_line, sql, f"error {e!r} lacks {want!r}")
                    )
                return i + 1
            res.failed.append((sql_line, sql, f"expected error {want!r}, query ran"))
            return i + 1

        if d.startswith("!stream"):
            # SELECT STREAM surface (≈ the reference's stream.iq): the
            # statement must yield an unbounded DataFrame — asserted
            # via isStreaming + schema, never collected (an unbounded
            # scan has no finite result to record)
            out_lines.append(lines[i])
            want_cols = [
                c.strip() for c in d[len("!stream") :].split(",") if c.strip()
            ]
            try:
                df = fe.sql(sql)
            except Exception as e:
                res.failed.append((sql_line, sql, f"execution error: {e}"))
                return i + 1
            if not df.isStreaming:
                res.failed.append(
                    (sql_line, sql, "expected a streaming (unbounded) DataFrame")
                )
            elif want_cols and df.columns != want_cols:
                res.failed.append(
                    (sql_line, sql, f"columns {df.columns} != {want_cols}")
                )
            else:
                res.passed += 1
            return i + 1

        if d == "!ddl":
            # execute the statement through DdlExecutor ≈ Quidem scripts
            # running CREATE TYPE / CREATE VIEW inline (server-side DDL
            # tier; the reference's type.iq and view-backed scripts)
            out_lines.append(lines[i])
            try:
                self._ddl(fe).execute(sql)
                res.passed += 1
            except Exception as e:
                res.failed.append((sql_line, sql, f"ddl error: {e}"))
            return i + 1

        raise ValueError(f"{res.path}:{i + 1}: unknown directive {d!r}")

    def _ddl(self, fe):
        if not hasattr(fe, "_testkit_ddl"):
            import tempfile

            from calcite_spark.sql.ddl import DdlExecutor

            # TemporaryDirectory (kept referenced on the frontend) is
            # removed at finalization — a bare mkdtemp would leak one
            # warehouse dir per runner
            fe._testkit_ddl_dir = tempfile.TemporaryDirectory(
                prefix="iq_ddl_"
            )
            fe._testkit_ddl = DdlExecutor(fe, fe._testkit_ddl_dir.name)
        return fe._testkit_ddl

    @staticmethod
    def _read_ok_block(lines, start):
        """Expected block: through the '(N rows)' terminator line."""
        j = start
        while j < len(lines):
            if _ROWCOUNT_RE.match(lines[j].strip()):
                return lines[start : j + 1], j + 1
            j += 1
        return lines[start:], len(lines)

    @staticmethod
    def _read_block_until_blank(lines, start):
        j = start
        while j < len(lines) and lines[j].strip():
            j += 1
        return lines[start:j], j
