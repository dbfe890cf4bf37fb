"""qwery-style statement surface, compiled onto Catalyst.

The reference implements a full SQL dialect with its own tokenizer,
template-driven parser, and row-at-a-time interpreter
(core:SQLLanguageParser.scala, core:QweryCompiler.scala). We keep the
UX — file-path FROM clauses with WITH hints, SELECT ... INTO sinks,
INSERT INTO/OVERWRITE, UPSERT KEYED ON, DECLARE/SET variables with
{{var}} templating, CREATE VIEW/FUNCTION, SHOW/DESCRIBE — but the
statement compiler is deliberately THIN: the SELECT core is handed to
spark.sql() (Catalyst is the analyzer/optimizer/codegen the reference
never had), sources resolve through qwery_spark.sources (scheme +
extension + hint routing), and UPSERT routes into the lake MERGE.

Statement inventory vs reference (SURVEY.md §2.10): SELECT(+INTO),
INSERT INTO/OVERWRITE (SELECT and VALUES forms), UPSERT KEYED ON,
DECLARE, SET (expression and scalar-subquery), CREATE [OR REPLACE]
VIEW, CREATE [TEMPORARY] FUNCTION (SQL-bodied, native in Spark 4),
SHOW VIEWS/VARIABLES/FUNCTIONS, DESCRIBE, and NATIVE SQL fallthrough.
BEGIN...END blocks = the script itself (statements run sequentially).

Deliberate divergences from reference quirks (SURVEY.md §7.0.6): LE is
a real <=, ORDER BY executes, LIMIT applies to output rows, GROUP BY
uses all keys, standard operator precedence.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from qwery_spark.compiler import grammar as G
from qwery_spark.sources import read_source, write_sink

# the hint block allows ONE level of nesting so the reference's
# parenthesized forms parse: WITH (JSON PATH (a,b))
# (core:SQLLanguageParser.scala hint tag %w)
_HINTS = r"((?:[^()]|\([^()]*\))*)"
_SOURCE_RE = re.compile(
    r"\b(FROM|JOIN)\s+'([^']+)'(\s+WITH\s*\(" + _HINTS + r"\))?",
    re.IGNORECASE,
)
_INTO_RE = re.compile(
    r"\bINTO\s+'([^']+)'(\s+WITH\s*\(" + _HINTS + r"\))?",
    re.IGNORECASE,
)


def _is_word(ch: str) -> bool:
    return ch.isalnum() or ch == "_"


def split_statements(text: str) -> list[str]:
    """Split on ';' outside string literals (single- OR double-quoted,
    with doubled-quote escapes — Spark treats both as literals by
    default) and outside BEGIN...END blocks (procedure bodies stay
    intact)."""
    out, buf, depth = [], [], 0
    q: str | None = None  # current quote char
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if q is not None:
            buf.append(ch)
            if ch == "\\" and i + 1 < n:
                # backslash escape: Spark's default parser accepts \' and
                # \" inside literals — the next char can't close the quote
                buf.append(text[i + 1])
                i += 2
                continue
            if ch == q:
                if i + 1 < n and text[i + 1] == q:  # doubled escape
                    buf.append(text[i + 1])
                    i += 2
                    continue
                q = None
            i += 1
            continue
        if ch == "-" and text[i : i + 2] == "--":
            # -- comment to end-of-line: opaque (a lone quote inside a
            # comment must not swallow the rest of the script)
            j = text.find("\n", i)
            j = n if j == -1 else j
            buf.append(text[i:j])
            i = j
            continue
        if ch in ("'", '"', "`"):
            q = ch
            buf.append(ch)
            i += 1
            continue
        up = text[i : i + 6].upper()
        # both boundaries must be non-word: identifiers like
        # 'trend', 'weekend' or 'end_time' are not block keywords
        at_word_start = i == 0 or not _is_word(text[i - 1])
        if (
            up.startswith("BEGIN")
            and at_word_start
            and (i + 5 == n or not _is_word(text[i + 5]))
        ):
            depth += 1
        elif (
            up.startswith("END")
            and at_word_start
            and (i + 3 == n or not _is_word(text[i + 3]))
        ):
            depth = max(depth - 1, 0)
        if ch == ";" and depth == 0:
            stmt = "".join(buf).strip()
            if stmt:
                out.append(stmt)
            buf = []
        else:
            buf.append(ch)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        out.append(tail)
    return out


def split_commas(raw: str) -> list[str]:
    """Split on commas outside string literals (either quote kind, with
    backslash and doubled-quote escapes) and outside parentheses (so
    hint values like JSON PATH (a,b) stay whole)."""
    parts, buf, depth = [], [], 0
    q: str | None = None
    i, n = 0, len(raw)
    while i < n:
        ch = raw[i]
        if q is not None:
            buf.append(ch)
            if ch == "\\" and i + 1 < n:
                buf.append(raw[i + 1])
                i += 2
                continue
            if ch == q:
                if i + 1 < n and raw[i + 1] == q:  # doubled escape
                    buf.append(raw[i + 1])
                    i += 2
                    continue
                q = None
            i += 1
            continue
        if ch in ("'", '"'):
            q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth = max(depth - 1, 0)
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def parse_hints(raw: str | None) -> dict:
    """'COLUMN HEADERS, DELIMITER |, FORMAT json' -> option dict."""
    hints: dict = {}
    if not raw:
        return hints
    for part in split_commas(raw):
        p = part.strip()
        if not p:
            continue
        up = p.upper()
        if up == "COLUMN HEADERS":
            hints["headers"] = True
        elif up == "NO HEADERS":
            hints["headers"] = False
        elif up == "AUTO DELIMITER":
            hints["auto_delimiter"] = True
        elif up == "INFER SCHEMA":
            hints["infer_schema"] = True
        elif up == "GZIP":
            pass  # transparent in Spark
        else:
            # both value forms the reference accepts: KEY 'v' and KEY (v)
            # (e.g. WITH (JSON PATH (a,b)) — core:SQLLanguageParser.scala)
            m = re.match(
                r"(DELIMITER|FORMAT|FIXED WIDTH|JSON PATH|PARTITIONED BY|AVRO"
                r"|VERSION)"
                r"\s*(?:'([^']*)'|\(([^()]*)\)|(\S+))\s*$",
                p,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(f"unknown hint: {p}")
            k = re.sub(r"\s+", " ", m.group(1).upper())
            v = next(g for g in m.groups()[1:] if g is not None)
            hints[{"DELIMITER": "delimiter", "FORMAT": "format",
                   "FIXED WIDTH": "fixed_width", "JSON PATH": "json_path",
                   "PARTITIONED BY": "partitioned_by",
                   "AVRO": "avro_schema",
                   # WITH (VERSION n) on a lake-table FROM: time travel
                   "VERSION": "version"}[k]] = v
    return hints


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    # escape backslashes FIRST (Spark's default parser treats \x as an
    # escape sequence: a value ending in '\' would otherwise produce
    # invalid SQL, and '\n' would round-trip as a newline), then double
    # the quotes
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


class ScriptEngine:
    """Session state + statement dispatch. Reference analogue: Scope
    (variables/views/functions, core:ops/Scope.scala:18-23) + the
    CodeBlock sequential executor (core:ops/CodeBlock.scala)."""

    def __init__(self, spark: SparkSession, import_env: bool = True):
        self.spark = spark
        # the quote scanners and _sql_literal assume Spark's DEFAULT
        # string-literal rules (backslash escapes interpreted); the
        # legacy Hive-migration conf flips that and would silently
        # corrupt backslash-bearing literals — refuse to guess
        try:
            if spark.conf.get(
                "spark.sql.parser.escapedStringLiterals", "false"
            ) == "true":
                import warnings

                warnings.warn(
                    "ScriptEngine: spark.sql.parser.escapedStringLiterals="
                    "true (legacy literal parsing); the statement scanners "
                    "assume the default — backslash-bearing literals and "
                    "@variables may mis-parse",
                    stacklevel=2,
                )
        except Exception:
            pass
        self.variables: dict[str, object] = {}
        self.variable_types: dict[str, str] = {}  # DECLAREd types, cast on SET
        self.views: list[str] = []
        self.functions: list[str] = []
        self.procedures: dict[str, tuple[list[str], str]] = {}  # name -> (params, body)
        if import_env:
            # reference imports env vars as env.* (core:ops/Scope.scala:219)
            for k, v in os.environ.items():
                self.variables[f"env.{k}"] = v

    # ---------------- template + variable expansion ----------------
    def expand(self, text: str) -> str:
        """{{ var }} textual templating (core:sources/DataResource.scala:41
        calls scope.expand — it applies INSIDE quoted paths, e.g.
        FROM '{{work.file.path}}'), then @var -> SQL-literal substitution
        OUTSIDE single-quoted strings only (the reference tokenizer is
        quote-aware: 'bob@example.com' is a plain literal, not a var)."""

        def tmpl(m):
            name = m.group(1).strip()
            if name not in self.variables:
                raise KeyError(f"undefined template variable: {name}")
            return str(self.variables[name])

        text = re.sub(r"\{\{\s*([^}]+?)\s*\}\}", tmpl, text)

        def var(m):
            name = m.group(1)
            if name not in self.variables:
                raise KeyError(f"undefined variable: @{name}")
            return _sql_literal(self.variables[name])

        # both quote kinds: Spark SQL's default treats "..." as a string
        # literal too (spark.sql.ansi.doubleQuotedIdentifiers=false)
        out, i, n, start = [], 0, len(text), 0
        while i < n:
            if text[i] == "-" and text[i : i + 2] == "--":
                # comments are opaque to @var substitution too ('@' in a
                # comment must not raise undefined-variable)
                out.append(re.sub(r"@([A-Za-z_][\w.]*)", var, text[start:i]))
                j = text.find("\n", i)
                j = n if j == -1 else j
                out.append(text[i:j])
                i = start = j
                continue
            q = text[i]
            if q in ("'", '"'):
                out.append(re.sub(r"@([A-Za-z_][\w.]*)", var, text[start:i]))
                j = i + 1
                while j < n:
                    if text[j] == "\\" and j + 1 < n:
                        # \' / \" escapes don't close the literal
                        j += 2
                        continue
                    if text[j] == q:
                        if j + 1 < n and text[j + 1] == q:  # doubled escape
                            j += 2
                            continue
                        break
                    j += 1
                out.append(text[i : min(j + 1, n)])
                i = start = j + 1
            else:
                i += 1
        out.append(re.sub(r"@([A-Za-z_][\w.]*)", var, text[start:]))
        return "".join(out)

    # ---------------- source rewriting ----------------
    def _rewrite_sources(self, sql: str) -> str:
        """Replace FROM/JOIN 'path' [WITH (...)] with generated temp views
        loaded through the source registry."""

        def repl(m):
            kw, path, _, hints_raw = m.group(1), m.group(2), m.group(3), m.group(4)
            df = read_source(self.spark, path, parse_hints(hints_raw))
            view = f"src_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        return _SOURCE_RE.sub(repl, sql)

    def _compile_select(self, sql: str) -> DataFrame:
        return self.spark.sql(self._rewrite_sources(sql))

    # ---------------- statements ----------------
    def execute(self, statement: str):
        """Execute one statement; returns a DataFrame or a scalar/None."""
        raw = statement.strip().rstrip(";").strip()
        up_raw = raw.upper()

        # anonymous BEGIN ... END block: sequential execution, result of
        # the last statement (core:ops/CodeBlock.scala:7-14). Word
        # boundaries on both keywords: BEGINNER isn't a block, and a
        # body ending in 'weekend' must not be truncated at its 'end'.
        if re.match(r"BEGIN\b", up_raw):
            m = re.match(
                r"BEGIN\s+(.*?)\s*(?<![\w])END\s*$", raw, re.IGNORECASE | re.DOTALL
            )
            if not m:
                raise ValueError(f"bad BEGIN block (missing END?): {raw[:120]}")
            results = self.run_script(m.group(1))
            return results[-1] if results else None

        # DECLARE/SET bind the @name itself — expand only the RHS
        if up_raw.startswith("DECLARE "):
            # typed declare (core:ops/sql/Declare.scala:11-16): the type
            # is enforced on assignment (SET casts to it)
            m = re.match(r"DECLARE\s+@?([\w.]+)\s+(\w+)", raw, re.IGNORECASE)
            if not m:
                raise ValueError(f"bad DECLARE: {raw}")
            name, type_name = m.group(1), m.group(2).lower()
            _TYPES = {
                "boolean": "boolean", "byte": "tinyint", "date": "date",
                "double": "double", "float": "float", "int": "int",
                "integer": "int", "long": "bigint", "short": "smallint",
                "string": "string", "uuid": "string",
            }
            if type_name not in _TYPES:
                raise ValueError(f"unknown DECLARE type: {type_name}")
            self.variable_types[name] = _TYPES[type_name]
            self.variables.setdefault(name, None)
            return None

        if up_raw.startswith("SET "):
            m = re.match(r"SET\s+@?([\w.]+)\s*=\s*(.+)$", raw, re.IGNORECASE | re.DOTALL)
            if not m:
                raise ValueError(f"bad SET: {raw}")
            name, expr = m.group(1), self.expand(m.group(2).strip())
            declared = self.variable_types.get(name)
            if expr.startswith("(") and re.search(r"^\(\s*SELECT\b", expr, re.IGNORECASE):
                # scalar subquery: first row, first column
                # (core:ops/Executable.scala:29-34 toExpression)
                df = self._compile_select(expr[1:-1])
                if declared is not None:
                    # lenient declared-type cast inside the same query —
                    # no literal round-trip (escapes/NaN stay intact)
                    df = df.select(df[df.columns[0]].try_cast(declared))
                row = df.first()
                value = None if row is None else row[0]
            elif declared is not None:
                value = self.spark.sql(
                    f"SELECT try_cast(({expr}) AS {declared})"
                ).first()[0]
            else:
                value = self.spark.sql(f"SELECT {expr}").first()[0]
            self.variables[name] = value
            return self.variables[name]

        # PROCEDURE/CALL handle expansion themselves (the body's @params
        # must survive until CALL binds them)
        if re.match(r"CREATE\s+(OR\s+REPLACE\s+)?PROCEDURE\b", up_raw):
            m = re.match(
                r"CREATE\s+(?:OR\s+REPLACE\s+)?PROCEDURE\s+(\w+)\s*(\(([^)]*)\))?\s+AS\s+"
                r"BEGIN\s+(.*?)\s*END\s*$",
                raw,
                re.IGNORECASE | re.DOTALL,
            )
            if not m:
                raise ValueError(f"bad CREATE PROCEDURE: {raw[:120]}")
            name = m.group(1)
            params: list[tuple[str, bool]] = []  # (name, is_out)
            for p in (m.group(3) or "").split(","):
                p = p.strip()
                if not p:
                    continue
                # OUT @x params write back into the caller's scope
                # (core:ops/sql/Procedure.scala:10-26)
                is_out = bool(re.match(r"OUT\s+", p, re.IGNORECASE))
                pname = re.sub(r"^OUT\s+", "", p, flags=re.IGNORECASE).lstrip("@")
                params.append((pname, is_out))
            self.procedures[name] = (params, m.group(4))
            return None

        if up_raw.startswith("CALL "):
            m = re.match(r"CALL\s+(\w+)\s*(\((.*)\))?\s*$", raw, re.IGNORECASE | re.DOTALL)
            if not m:
                raise ValueError(f"bad CALL: {raw}")
            name = m.group(1)
            if name not in self.procedures:
                raise KeyError(f"unknown procedure: {name}")
            params, body = self.procedures[name]
            args = [a for a in map(str.strip, split_commas(m.group(3) or "")) if a]
            if len(args) != len(params):
                raise ValueError(f"{name} expects {len(params)} args, got {len(args)}")
            saved = dict(self.variables)
            saved_types = dict(self.variable_types)
            out_vals: dict[str, object] | None = None
            try:
                out_binds: list[tuple[str, str]] = []  # (param, caller var)
                for (p, is_out), a in zip(params, args):
                    if is_out:
                        mo = re.match(r"@([\w.]+)$", a)
                        if not mo:
                            raise ValueError(
                                f"OUT param {p} of {name} needs a @variable argument, got {a!r}"
                            )
                        out_binds.append((p, mo.group(1)))
                        self.variables[p] = self.variables.get(mo.group(1))
                    else:
                        self.variables[p] = self.spark.sql(
                            f"SELECT {self.expand(a)}"
                        ).first()[0]
                results = self.run_script(body)
                out_vals = {cv: self.variables.get(p) for p, cv in out_binds}
                return results[-1] if results else None
            finally:
                self.variables = saved
                self.variable_types = saved_types  # DECLAREs don't leak
                if out_vals:
                    # OUT params survive into the caller scope
                    self.variables.update(out_vals)

        stmt = self.expand(raw)
        up = stmt.upper()

        if re.match(r"CREATE\s+(OR\s+REPLACE\s+)?VIEW\b", up):
            m = re.match(
                r"CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+(\w+)\s+AS\s+(.+)$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            name, body = m.group(1), m.group(2)
            self._compile_select(body).createOrReplaceTempView(name)
            self.views.append(name)
            return None

        if re.match(r"CREATE\s+(TEMPORARY\s+)?FUNCTION\b", up):
            # Spark 4 SQL-bodied UDFs natively cover the reference's
            # CREATE FUNCTION (core:ops/Function.scala); force session scope
            body = re.sub(
                r"^CREATE\s+FUNCTION", "CREATE TEMPORARY FUNCTION", stmt, flags=re.IGNORECASE
            )
            self.spark.sql(body)
            m = re.match(r"CREATE\s+(?:TEMPORARY\s+)?FUNCTION\s+(\w+)", stmt, re.IGNORECASE)
            self.functions.append(m.group(1))
            return None

        if up.startswith("SHOW FILES"):
            # reference: SHOW FILES lists the INBOX dir (not the cwd),
            # composable as a subquery (core:ops/sql/Show.scala:15-45).
            # The inbox is the @inbox variable (file-trigger jobs set it,
            # streaming/orchestrate.py); cwd is only the last resort.
            m = re.match(r"SHOW\s+FILES(?:\s+'([^']*)')?", stmt, re.IGNORECASE)
            target = m.group(1) or str(self.variables.get("inbox") or os.getcwd())
            rows = []
            for name in sorted(os.listdir(target)):
                full = os.path.join(target, name)
                rows.append((name, os.path.getsize(full), os.path.isdir(full)))
            return self.spark.createDataFrame(
                rows or [("", 0, False)], "name string, size long, is_dir boolean"
            )

        if up.startswith("SHOW SNAPSHOTS"):
            # lake ops surface (Iceberg's snapshots metadata table shape):
            # one row per commit record in the delta log — version, epoch,
            # operation, files added/buckets replaced by THAT commit
            m = G.SHOW_SNAPSHOTS.match(stmt)
            if not m:
                raise ValueError("SHOW SNAPSHOTS needs a quoted table path")
            from qwery_spark.lake.table import open_lake

            tbl = open_lake(m.group(1))
            rows = []
            mdir = tbl._mdir()
            live = sorted(
                int(n[1:9]) for n in os.listdir(mdir)
                if n.startswith("v") and n.endswith(".json")
            )  # expired log: only surviving records are listable
            if tbl.branch is not None:
                # branch view: main log up to the fork, then the
                # branch's own records (the _manifest_path router below
                # reads each from the right sub-log)
                fork = tbl._fork_version()
                live = [v for v in live if v <= fork] + [
                    v for v in tbl._branch_records(tbl.branch) if v > fork
                ]
            for v in live:
                with open(tbl._manifest_path(v)) as fh:
                    rec = json.load(fh)
                summary = rec.get("summary", {})
                ek = rec.get("epoch_id")
                rows.append((
                    v,
                    rec.get("snapshot_id", ""),
                    # epoch keys are ints (batch callers) or
                    # 'run:epoch' strings (streams) — expose as string
                    None if ek is None else str(ek),
                    summary.get("operation", "create" if "files" in rec else ""),
                    len(rec.get("add_files", rec.get("files", []))),
                    len(rec.get("replace_buckets", [])),
                    rec.get("ts"),  # commit wall-clock (None pre-round-6)
                ))
            return self.spark.createDataFrame(
                rows,
                "version int, snapshot_id string, epoch_id string, "
                "operation string, files_added int, buckets_replaced int, "
                "committed_at double",
            )

        if up.startswith("SHOW LINEAGE"):
            # per-run statistics from the lineage rows apply_changes
            # writes (reference: live Statistics feed — records/sec,
            # pctComplete, ETA, core:sources/Statistics.scala:17-25),
            # reconstructed after the fact; EXPECTING n supplies the
            # planned total so pct_complete/eta populate
            m = G.SHOW_LINEAGE.match(stmt)
            if not m:
                raise ValueError(
                    "bad SHOW LINEAGE (want SHOW LINEAGE 'dir' "
                    f"[EXPECTING n]): {stmt}"
                )
            from qwery_spark.cdc.apply import read_lineage_stats

            return read_lineage_stats(
                self.spark, m.group(1),
                total_expected=int(m.group(2)) if m.group(2) else None,
            )

        if up.startswith("REPLICATE"):
            # CDC replication as a script verb over lake/changes.
            # replicate: apply the source's changelog window to a
            # replica, creating it on first use (source schema at the
            # window start — in-window DDL then replays onto it
            # automatically via sync_schema_from_source); EPOCH 'id'
            # makes re-delivery idempotent (the replica's epoch key).
            # Beyond-reference: the reference has no change feed.
            m = G.REPLICATE.match(stmt)
            if not m:
                raise ValueError(
                    "bad REPLICATE (want REPLICATE LAKE 'src' INTO 'dst' "
                    f"[FROM n] [TO n] [EPOCH 'id']): {stmt}"
                )
            import os as _os

            from pyspark.sql import types as T

            from qwery_spark.lake.changes import replicate
            from qwery_spark.lake.table import LakeTable

            src = LakeTable(m.group(1))
            from_v = int(m.group(3)) if m.group(3) else 0
            to_v = int(m.group(4)) if m.group(4) else src.current_version()
            if not _os.path.exists(m.group(2)):
                snap = src.snapshot(from_v)
                user = T.StructType.fromDDL(", ".join(
                    f"`{f['name']}` {f['type']}" for f in snap.fields()
                    if f["name"] not in ("last_ordinal", "_deleted")
                ))
                LakeTable.create(
                    m.group(2), user, n_buckets=snap.n_buckets,
                    key_col=snap.m["key_col"], write_mode=snap.write_mode,
                )
            dst = LakeTable(m.group(2))
            r = replicate(
                self.spark, src, dst, from_v, to_v, epoch_id=m.group(5)
            )
            return self.spark.createDataFrame(
                [(
                    m.group(1), m.group(2), from_v, to_v,
                    bool(getattr(r, "skipped", False)),
                    int(getattr(r, "rows_upserted", 0) or 0),
                    int(getattr(r, "rows_deleted", 0) or 0),
                    getattr(r, "snapshot_version", None),
                )],
                "src string, dst string, from_version int, to_version int, "
                "skipped boolean, rows_upserted int, rows_deleted int, "
                "replica_version int",
            )

        if up.startswith("SHOW CHANGES"):
            # CDC-out script surface over lake/changes.py: the changelog
            # of commits in (FROM, TO] (FROM defaults to 0 = since
            # creation, TO to the current head) — downstream consumers
            # read incremental change rows instead of re-scanning the
            # table. Beyond-reference (the reference has no change feed).
            m = G.SHOW_CHANGES.match(stmt)
            if not m:
                raise ValueError(
                    "bad SHOW CHANGES (want SHOW CHANGES 'path' [FROM n] "
                    f"[TO n] [COARSE | WINDOW n]): {stmt}"
                )
            from qwery_spark.lake.changes import read_changes
            from qwery_spark.lake.table import open_lake

            tbl = open_lake(m.group(1))
            # COARSE = one net endpoint diff for the whole range (the
            # cheap catch-up mode); WINDOW n = one diff per <=n-commit
            # chunk — the same three feed modes the library offers
            return read_changes(
                self.spark,
                tbl,
                int(m.group(2)) if m.group(2) else 0,
                int(m.group(3)) if m.group(3) else None,
                granular=not m.group(4),
                window=int(m.group(5)) if m.group(5) else None,
            )

        if up.startswith("SHOW BRANCHES"):
            m = G.SHOW_BRANCHES.match(stmt)
            if not m:
                raise ValueError("SHOW BRANCHES needs a quoted table path")
            from qwery_spark.lake.table import LakeTable

            rows = [
                (b["name"], b["fork_version"], b["head_version"], b["commits"])
                for b in LakeTable(m.group(1)).list_branches()
            ]
            df = self.spark.createDataFrame(
                rows or [("", 0, 0, 0)],
                "branch string, fork_version int, head_version int, commits int",
            )
            return df if rows else df.limit(0)

        if up.startswith("SHOW "):
            what = up.split()[1]
            if what == "VIEWS":
                return self.spark.sql("SHOW VIEWS")
            if what == "VARIABLES":
                rows = [(k, str(v)) for k, v in sorted(self.variables.items())
                        if not k.startswith("env.")]
                return self.spark.createDataFrame(rows or [("", "")], "name string, value string")
            if what == "FUNCTIONS":
                rows = [(f,) for f in self.functions]
                return self.spark.createDataFrame(rows or [("",)], "name string")
            if what == "PROCEDURES":
                rows = [
                    (n, ", ".join(("OUT " if o else "") + pn for pn, o in p))
                    for n, (p, _) in sorted(self.procedures.items())
                ]
                return self.spark.createDataFrame(
                    rows or [("", "")], "name string, params string"
                )
            raise ValueError(f"unknown SHOW target: {what}")

        if re.match(r"DESCRIBE\s+LAKE\b", up):
            m = G.DESCRIBE_LAKE.match(stmt)
            if not m:
                raise ValueError("DESCRIBE LAKE needs a quoted table path")
            from qwery_spark.lake.table import open_lake

            snap = open_lake(m.group(1)).snapshot()
            rows = [
                (f["name"], f["type"], f["id"],
                 f["name"] in ("last_ordinal", "_deleted"))
                for f in snap.fields()
            ]
            return self.spark.createDataFrame(
                rows, "column string, type string, field_id int, engine_col boolean"
            )

        if up.startswith("DESCRIBE "):
            target = stmt[len("DESCRIBE "):].strip()
            if target.startswith("'"):
                df = read_source(self.spark, target.strip("'"), {})
            else:
                df = self.spark.table(target)
            rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
            return self.spark.createDataFrame(rows, "column string, type string")

        if up.startswith("INSERT "):
            return self._insert(stmt)

        if up.startswith("UPSERT "):
            return self._upsert(stmt)

        if re.match(r"UPDATE\s+LAKE\s+'[^']*'\s+SET\b", up):
            # UPDATE ... SET assignments (core:ops/sql/Update.scala:19-44)
            return self._update_set(stmt)

        if re.match(r"UPDATE\s+LAKE\b", up):
            # UPDATE ... KEYED ON <select>: matched rows only
            # (same Update.scala semantics, batch-shaped source)
            return self._upsert(stmt, insert_missing=False)

        if re.match(r"DELETE\s+FROM\s+LAKE\b", up):
            return self._delete(stmt)

        if re.match(r"CREATE\s+LAKE\b", up):
            # CREATE LAKE 'path' (col type, ...) KEYED ON k
            #   [BUCKETS n] [MODE mor|cow] [CODEC c] [STATS (c1, c2)]
            # completes the script-only lifecycle: a user can create,
            # load, evolve, maintain and drop a table without the API
            # greedy (.*) pairs with the LAST ')' before KEYED ON, so
            # paren-bearing types (decimal(12,2), varchar(8)) parse
            m = G.CREATE_LAKE.match(stmt)
            if not m:
                raise ValueError(f"bad CREATE LAKE: {stmt}")
            from pyspark.sql.types import StructType

            from qwery_spark.lake.table import LakeTable

            if_not_exists = bool(m.group(1))
            path, cols_raw, key = m.group(2), m.group(3), m.group(4)
            schema = StructType.fromDDL(cols_raw)
            if key not in schema.fieldNames():
                raise ValueError(f"CREATE LAKE: key column {key!r} not in schema")
            stats_cols = [c.strip() for c in (m.group(8) or "").split(",") if c.strip()]
            bad_stats = [c for c in stats_cols if c not in schema.fieldNames()]
            if bad_stats:
                raise ValueError(f"CREATE LAKE: STATS column(s) not in schema: {bad_stats}")
            bloom_cols = [c.strip() for c in (m.group(9) or "").split(",") if c.strip()]
            bad_bloom = [c for c in bloom_cols if c not in schema.fieldNames()]
            if bad_bloom:
                raise ValueError(f"CREATE LAKE: BLOOM column(s) not in schema: {bad_bloom}")
            try:
                snap = LakeTable(path).snapshot()
            except FileNotFoundError:
                pass
            else:
                if if_not_exists:  # idempotent bootstrap for scripts
                    return self.spark.createDataFrame(
                        [(snap.version, snap.n_buckets, snap.write_mode)],
                        "version int, buckets int, mode string",
                    )
                raise ValueError(f"CREATE LAKE: table already exists at {path!r}")
            tbl = LakeTable.create(
                path,
                schema,
                key_col=key,
                # default matches LakeTable.create's (script and API
                # creates must yield identical tables)
                n_buckets=int(m.group(5) or 16),
                write_mode=(m.group(6) or "cow").lower(),
                codec=(m.group(7) or "snappy").lower(),
                stats_cols=stats_cols,
                bloom_filter_cols=bloom_cols,
                bloom_ndv=int(m.group(10)) if m.group(10) else None,
            )
            snap = tbl.snapshot()
            return self.spark.createDataFrame(
                [(snap.version, snap.n_buckets, snap.write_mode)],
                "version int, buckets int, mode string",
            )

        if re.match(r"ALTER\s+LAKE\b", up):
            return self._alter_lake(stmt)

        if re.match(r"DROP\s+LAKE\b", up):
            # DROP LAKE [IF EXISTS] 'path': remove the table (manifests +
            # data). Refuses paths that aren't lake tables (no manifest
            # dir) so a typo can't delete arbitrary directories; IF
            # EXISTS makes teardown-then-create scripts rerunnable.
            m = G.DROP_LAKE.match(stmt)
            if not m:
                raise ValueError(f"bad DROP LAKE: {stmt}")
            from qwery_spark.lake.table import LakeTable, _invalidate

            path = m.group(2)
            # deliberately NOT open_lake: DROP LAKE removes the whole
            # table directory — a 'path@branch' spec must not resolve to
            # the main table (that's DROP BRANCH's job)
            tbl = LakeTable(path)
            try:
                tbl.snapshot()  # FileNotFoundError if not a lake table
            except FileNotFoundError:
                if m.group(1):
                    return self.spark.createDataFrame(
                        [("",)], "DROPPED string"
                    ).limit(0)
                raise
            import shutil

            shutil.rmtree(tbl.path)
            _invalidate(tbl.path)
            return self.spark.createDataFrame([(tbl.path,)], "DROPPED string")

        if re.match(r"CREATE\s+BRANCH\b", up):
            # write-audit-publish staging (Iceberg branch refs):
            # CREATE BRANCH 'name' ON LAKE 'path' [AT VERSION n]. Writes
            # then target 'path@name' on the normal verbs; audits read
            # the same operand; PUBLISH fast-forwards main.
            m = G.CREATE_BRANCH.match(stmt)
            if not m:
                raise ValueError(f"bad CREATE BRANCH: {stmt}")
            from qwery_spark.lake.table import LakeTable

            at = int(m.group(3)) if m.group(3) else None
            br = LakeTable(m.group(2)).create_branch(m.group(1), at_version=at)
            return self.spark.createDataFrame(
                [(m.group(1), br._fork_version())], "branch string, fork_version int"
            )

        if re.match(r"PUBLISH\s+BRANCH\b", up):
            m = G.PUBLISH_BRANCH.match(stmt)
            if not m:
                raise ValueError(f"bad PUBLISH BRANCH: {stmt}")
            from qwery_spark.lake.table import LakeTable

            snap = LakeTable(m.group(2)).publish_branch(m.group(1))
            return self.spark.createDataFrame(
                [(m.group(1), snap.version)], "published string, version int"
            )

        if re.match(r"DROP\s+BRANCH\b", up):
            # audit-reject: DROP BRANCH 'name' ON LAKE 'path' [KEEP FILES]
            m = G.DROP_BRANCH.match(stmt)
            if not m:
                raise ValueError(f"bad DROP BRANCH: {stmt}")
            from qwery_spark.lake.table import LakeTable

            n = LakeTable(m.group(2)).drop_branch(
                m.group(1), delete_files=not m.group(3)
            )
            return self.spark.createDataFrame([(n,)], "FILES_REMOVED long")

        if re.match(r"ROLLBACK\s+LAKE\b", up):
            # ROLLBACK LAKE 'path' TO VERSION n (Iceberg
            # rollback_to_snapshot): restore that version's state as a
            # new head commit; time travel over the rolled-past range
            # stays intact until EXPIRE SNAPSHOTS.
            m = G.ROLLBACK_LAKE.match(stmt)
            if not m:
                raise ValueError(f"bad ROLLBACK LAKE: {stmt}")
            from qwery_spark.lake.table import LakeTable

            snap = LakeTable(m.group(1)).rollback(int(m.group(2)))
            return self.spark.createDataFrame(
                [(snap.version, int(m.group(2)))],
                "version int, restored_version int",
            )

        if re.match(r"EXPIRE\s+SNAPSHOTS\b", up):
            # lake maintenance (Iceberg expire_snapshots):
            # EXPIRE SNAPSHOTS 'path' [KEEP n]
            m = G.EXPIRE.match(stmt)
            if not m:
                raise ValueError(f"bad EXPIRE SNAPSHOTS: {stmt}")
            from qwery_spark.lake.table import LakeTable

            n = LakeTable(m.group(1)).expire_snapshots(
                keep_last=int(m.group(2) or 3),
                older_than_sec=float(m.group(3)) if m.group(3) else None,
            )
            return self.spark.createDataFrame(
                [(n,)], "SNAPSHOTS_EXPIRED long"
            )

        if re.match(r"COMPACT\s+LAKE\b", up):
            # COMPACT LAKE 'p' [SORT BY (c1, c2) | ZORDER BY (c1, c2)]
            #   [DROP TOMBSTONES]:
            # fold MOR deltas to one resolved file set per bucket
            # (Iceberg rewrite_data_files); SORT BY triggers the
            # sort-order rewrite that makes row-group + manifest-stats
            # pruning maximal; ZORDER BY the Morton-interleave rewrite
            # that keeps EVERY listed column's bounds tight (Delta
            # OPTIMIZE ZORDER BY analogue).
            m = G.COMPACT.match(stmt)
            if not m:
                raise ValueError(f"bad COMPACT LAKE: {stmt}")
            from qwery_spark.lake.merge import compact
            from qwery_spark.lake.table import open_lake

            cols = (
                [c.strip() for c in m.group(3).split(",")] if m.group(3) else None
            )
            is_z = (m.group(2) or "").upper() == "ZORDER"
            res = compact(
                self.spark,
                open_lake(m.group(1)),
                sort_cols=None if is_z else cols,
                zorder_cols=cols if is_z else None,
                drop_tombstones=bool(m.group(4)),
            )
            return self.spark.createDataFrame(
                [(res["compacted_buckets"],)], "compacted_buckets int"
            )

        if re.match(r"BINPACK\s+LAKE\b", up):
            # BINPACK LAKE 'p' [SMALL <bytes>] [MIN FILES <n>]: merge
            # only each bucket's sub-threshold files (Iceberg
            # rewrite_data_files binpack) — maintenance write
            # amplification bounded by small-file volume, the big
            # sorted files stay put (full rewrite = COMPACT LAKE).
            m = G.BINPACK.match(stmt)
            if not m:
                raise ValueError(f"bad BINPACK LAKE: {stmt}")
            from qwery_spark.lake.merge import binpack
            from qwery_spark.lake.table import open_lake

            res = binpack(
                self.spark,
                open_lake(m.group(1)),
                small_bytes=int(m.group(2)) if m.group(2) else 32 << 20,
                min_files=int(m.group(3)) if m.group(3) else 4,
            )
            return self.spark.createDataFrame(
                [(res["binpacked_buckets"], res["files_merged"], res["files_written"])],
                "binpacked_buckets int, files_merged int, files_written int",
            )

        if re.match(r"VACUUM\s+LAKE\b", up):
            # lake maintenance (Iceberg remove_orphan_files):
            # VACUUM LAKE 'path' [GRACE <seconds>]
            # default grace = 1h protects a concurrent writer's staged
            # files; GRACE 0 for provably single-writer scripts
            m = G.VACUUM.match(stmt)
            if not m:
                raise ValueError(f"bad VACUUM LAKE: {stmt}")
            from qwery_spark.lake.table import LakeTable

            grace = float(m.group(2)) if m.group(2) is not None else 3600.0
            n = LakeTable(m.group(1)).vacuum(grace_sec=grace)
            return self.spark.createDataFrame([(n,)], "FILES_REMOVED long")

        if up.startswith("SELECT") or up.startswith("WITH"):
            # reference TOP n (core:SQLLanguageParser.scala:814) -> LIMIT n,
            # applied to OUTPUT rows (documented divergence: the reference
            # takes n INPUT rows pre-aggregation, Select.scala:34)
            m = re.match(r"SELECT\s+TOP\s+(\d+)\s+(.*)$", stmt, re.IGNORECASE | re.DOTALL)
            if m:
                stmt = f"SELECT {m.group(2)} LIMIT {m.group(1)}"
            into = _INTO_RE.search(stmt)
            if into:
                target, hints = into.group(1), parse_hints(into.group(3))
                body = _INTO_RE.sub("", stmt)
                df = self._compile_select(body)
                n = write_sink(df, target, hints, mode="overwrite")
                return self.spark.createDataFrame(
                    [(n, 0)], "ROWS_INSERTED long, ROWS_REJECTED long"
                )
            return self._compile_select(stmt)

        # NATIVE SQL fallthrough (core:ops/sql/NativeSQL.scala)
        return self.spark.sql(self._rewrite_sources(stmt))

    def _insert(self, stmt: str):
        m = re.match(
            r"INSERT\s+(INTO|OVERWRITE)\s+'([^']+)'(\s+WITH\s*\(" + _HINTS + r"\))?"
            r"(\s*\(([^()]*)\))?\s+(SELECT|WITH|VALUES)(.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if not m:
            raise ValueError(f"bad INSERT: {stmt}")
        mode = "append" if m.group(1).upper() == "INTO" else "overwrite"
        target, hints = m.group(2), parse_hints(m.group(4))
        cols = [c.strip() for c in (m.group(6) or "").split(",") if c.strip()]
        kw, rest = m.group(7).upper(), m.group(8)
        if kw == "VALUES":
            df = self.spark.sql(f"SELECT * FROM VALUES {rest}")
        else:
            df = self._compile_select(f"{kw}{rest}")
        if cols:
            # positional rebind, as the reference does
            # (core:ops/sql/Insert.scala:19 fields zip row.columns)
            df = df.toDF(*cols)
        n = write_sink(df, target, hints, mode=mode)
        return self.spark.createDataFrame([(n, 0)], "ROWS_INSERTED long, ROWS_REJECTED long")

    def _upsert(self, stmt: str, insert_missing: bool = True):
        """UPSERT INTO LAKE 'path' KEYED ON key [ORDINAL col] <select>
        (or UPDATE LAKE ... for matched-only semantics).

        Routes to the lake MERGE/append (reference: UPSERT ... KEYED ON,
        core:ops/sql/Upsert.scala:14-33 — stream-order last-writer-wins,
        here made explicit via the ordinal column)."""
        from pyspark.sql import functions as F

        from qwery_spark.lake.merge import append_changes, merge_changes
        from qwery_spark.lake.table import open_lake

        # JDBC target: UPSERT INTO 'jdbc:...' KEYED ON k1[,k2] <select>
        # — staged bulk write + one vendor merge statement (reference:
        # core:sources/JDBCOutputSource.scala:62-80; jar-gated execute)
        mj = re.match(
            r"UPSERT\s+INTO\s+'(jdbc:[^']+)'\s+KEYED\s+ON\s+([\w,\s]+?)"
            r"\s+(SELECT|WITH)(.*)$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if mj:
            from qwery_spark.sources.jdbc_upsert import jdbc_upsert
            from qwery_spark.sources.registry import _parse_jdbc

            url, table = _parse_jdbc(mj.group(1))
            keys = [k.strip() for k in mj.group(2).split(",") if k.strip()]
            df = self._compile_select(f"{mj.group(3).upper()}{mj.group(4)}")
            plan = jdbc_upsert(df, url, table, keys)
            return self.spark.createDataFrame(
                [(plan["dialect"], plan["merge_sql"])], "dialect string, merge_sql string"
            )

        m = G.UPSERT.match(stmt)
        if not m:
            raise ValueError(f"bad UPSERT: {stmt}")
        _head, path, key, ordinal, select = m.groups()
        df = self._compile_select(select)
        if ordinal and ordinal != "ordinal":
            df = df.withColumnRenamed(ordinal, "ordinal")
        if "ordinal" not in df.columns:
            raise ValueError("UPSERT requires an ordinal column (LSN) for LWW ordering")
        if "op" not in df.columns:
            df = df.withColumn("op", F.lit("U"))
        tbl = open_lake(path)
        # The merge layer keys the batch by the TABLE's key_col (the
        # snapshot is authoritative) — rename the statement's KEYED ON
        # column to it, whatever the table was created with.
        key_col = tbl.snapshot().m["key_col"]
        if key != key_col:
            if key_col in df.columns:
                raise ValueError(
                    f"UPSERT KEYED ON {key!r}: renaming to the table key "
                    f"{key_col!r} would collide with an existing column "
                    f"of that name in the SELECT"
                )
            df = df.withColumnRenamed(key, key_col)
        if insert_missing and tbl.snapshot().write_mode == "mor":
            stats = append_changes(self.spark, tbl, df)
        else:
            # UPDATE (matched-only) always goes through the COW merge —
            # a blind MOR append would insert unmatched keys
            stats = merge_changes(self.spark, tbl, df, insert_missing=insert_missing)
        return self.spark.createDataFrame(
            [(stats.rows_upserted, stats.rows_deleted, stats.rows_stale)],
            "ROWS_UPSERTED long, ROWS_DELETED long, ROWS_STALE long",
        )

    def _update_set(self, stmt: str):
        """UPDATE LAKE 'path' SET col = expr[, ...] KEYED ON key
        [ORDINAL <n>] [WHERE pred]

        The reference's assignment-form UPDATE
        (core:ops/sql/Update.scala:19-44, SQL gen
        core:SQLGenerator.scala:22-28): matching live rows get the SET
        expressions applied and re-enter the table through the normal
        matched-only MERGE at a fresh ordinal (explicit via ORDINAL, or
        max(last_ordinal)+1 — a new WAL position, so LWW total order
        stays intact and concurrent stragglers below it still lose).

        Per-row failure tolerance as in the reference (Update.scala's
        row loop counts failures and continues): an assignment whose
        value doesn't cast to the target column's type quarantines THAT
        row (counted in ROWS_REJECTED) — the rest of the batch applies.
        """
        from pyspark.sql import functions as F

        from qwery_spark.lake.merge import ENGINE_COLS, merge_changes
        from qwery_spark.lake.table import open_lake

        m = G.UPDATE_SET.match(stmt)
        if not m:
            raise ValueError(f"bad UPDATE ... SET: {stmt}")
        path, set_raw, key, ordinal_raw, pred = m.groups()
        assignments: dict[str, str] = {}
        for part in split_commas(set_raw):
            am = re.match(r"\s*(\w+)\s*=\s*(.+?)\s*$", part, re.DOTALL)
            if not am:
                raise ValueError(f"bad SET assignment: {part!r}")
            assignments[am.group(1)] = am.group(2)

        tbl = open_lake(path)
        snap = tbl.snapshot()
        key_col = snap.m["key_col"]
        if key != key_col:
            raise ValueError(
                f"UPDATE SET KEYED ON {key!r}: table is keyed on {key_col!r}"
            )
        types = {
            f["name"]: f["type"]
            for f in snap.fields()
            if f["name"] not in ENGINE_COLS
        }
        unknown = [c for c in assignments if c not in types]
        if unknown:
            raise ValueError(f"UPDATE SET of unknown column(s): {unknown}")
        if key in assignments:
            raise ValueError("UPDATE SET cannot assign the key column")

        live = tbl.read(spark := self.spark)
        if pred:
            live = live.filter(pred)
        if ordinal_raw is not None:
            new_ordinal = F.lit(int(ordinal_raw)).cast("bigint")
        else:
            row = tbl.read_physical(spark).agg(
                F.max("last_ordinal").alias("m")
            ).first()
            new_ordinal = F.lit(int((row["m"] or 0) + 1)).cast("bigint")

        cols = [F.col(key)]
        bad = F.lit(False)
        for name, typ in types.items():
            if name == key:
                continue
            if name in assignments:
                raw = F.expr(assignments[name])
                val = F.expr(f"try_cast(({assignments[name]}) AS {typ})")
                bad = bad | (raw.isNotNull() & val.isNull())
                cols.append(val.alias(name))
            else:
                cols.append(F.col(f"`{name}`"))
        batch = live.select(
            *cols,
            F.lit("U").alias("op"),
            new_ordinal.alias("ordinal"),
            bad.alias("_bad"),
        ).persist()  # one live-read: the reject count materializes the
        # cache, the merge re-reads cached blocks (not the parquet)
        try:
            rejected = batch.filter(F.col("_bad")).count()
            good = batch.filter(~F.col("_bad")).drop("_bad")
            stats = merge_changes(spark, tbl, good, insert_missing=False)
        finally:
            batch.unpersist()
        return self.spark.createDataFrame(
            [(stats.rows_upserted, int(rejected), stats.rows_stale)],
            "ROWS_UPSERTED long, ROWS_REJECTED long, ROWS_STALE long",
        )

    def _delete(self, stmt: str):
        """DELETE FROM LAKE 'path' KEYED ON key ORDINAL <n> [WHERE pred].

        Predicate-driven bulk delete: matching live rows become delete
        events at the given ordinal (a NEW WAL position — the caller
        owns ordinal allocation, keeping LWW total order intact), then
        the normal MERGE/tombstone machinery applies them."""
        from pyspark.sql import functions as F

        from qwery_spark.lake.merge import append_changes, merge_changes
        from qwery_spark.lake.table import open_lake

        m = G.DELETE.match(stmt)
        if not m:
            raise ValueError(f"bad DELETE: {stmt}")
        path, key, ordinal, pred = m.group(1), m.group(2), int(m.group(3)), m.group(4)
        tbl = open_lake(path)
        key_col = tbl.snapshot().m["key_col"]
        if key != key_col:
            raise ValueError(
                f"DELETE KEYED ON {key!r}: table is keyed on {key_col!r}"
            )
        live = tbl.read(self.spark)
        if pred:
            live = live.filter(pred)
        batch = live.select(
            F.col(key),
            F.lit("D").alias("op"),
            F.lit(ordinal).cast("bigint").alias("ordinal"),
        )
        write = append_changes if tbl.snapshot().write_mode == "mor" else merge_changes
        stats = write(self.spark, tbl, batch)
        return self.spark.createDataFrame(
            [(stats.rows_deleted, stats.rows_stale)],
            "ROWS_DELETED long, ROWS_STALE long",
        )

    def _alter_lake(self, stmt: str):
        """Schema evolution verbs over the lake table (Iceberg
        UpdateSchema shape; the streaming path applies the same ops from
        DDL events — cdc/apply.py):

          ALTER LAKE 'path' ADD COLUMN name type
          ALTER LAKE 'path' RENAME COLUMN old TO new
          ALTER LAKE 'path' WIDEN COLUMN name TO type
          ALTER LAKE 'path' DROP COLUMN name  (metadata-only)
          ALTER LAKE 'path' REBUCKET n        (partition-spec evolution)

        All forms accept the 'path@branch' operand — schema evolution
        staged on a WAP branch publishes with the branch.
        """
        from qwery_spark.lake.table import open_lake

        mrb = re.match(
            r"ALTER\s+LAKE\s+'([^']+)'\s+REBUCKET\s+(\d+)\s*$", stmt, re.IGNORECASE
        )
        if mrb:
            from qwery_spark.lake.merge import rebucket

            res = rebucket(self.spark, open_lake(mrb.group(1)), int(mrb.group(2)))
            return self.spark.createDataFrame(
                [(res["from_buckets"], res["to_buckets"], res["files_written"])],
                "from_buckets int, to_buckets int, files_written int",
            )

        m = re.match(
            r"ALTER\s+LAKE\s+'([^']+)'\s+"
            r"(?:ADD\s+COLUMN\s+(\w+)\s+([\w<>,\s]+)"
            r"|RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)"
            r"|WIDEN\s+COLUMN\s+(\w+)\s+TO\s+([\w<>,\s]+)"
            r"|DROP\s+COLUMN\s+(\w+))\s*$",
            stmt,
            re.IGNORECASE,
        )
        if not m:
            raise ValueError(f"bad ALTER LAKE: {stmt}")
        tbl = open_lake(m.group(1))
        if m.group(2):
            snap = tbl.add_column(m.group(2), m.group(3).strip().lower())
        elif m.group(4):
            snap = tbl.rename_column(m.group(4), m.group(5))
        elif m.group(6):
            snap = tbl.widen_type(m.group(6), m.group(7).strip().lower())
        else:
            snap = tbl.drop_column(m.group(8))
        return self.spark.createDataFrame(
            [(snap.version, snap.schema_version, json.dumps(snap.m["summary"]))],
            "version int, schema_version int, summary string",
        )

    def run_script(self, script: str) -> list:
        """Sequential multi-statement execution (BEGIN..END semantics,
        core:ops/CodeBlock.scala: result of the last statement)."""
        return [self.execute(s) for s in split_statements(script)]
