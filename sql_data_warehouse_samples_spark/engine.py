"""Engine facade: SQL entry point with request lifecycle tracking.

Reproduces the reference's query lifecycle observability (SURVEY §3 EP1):

1. Submit — request gets an id + optional LABEL (OPTION(LABEL='...'),
   CTASLoad-Example.sql:60), appears in the request log with status
   Running/Completed/Failed (sys.dm_pdw_exec_requests surface,
   vw_active_queries.sql:9-11).
2. Admission control — a slot semaphore per resource class
   (sys.dm_pdw_resource_waits surface; wlm.py).
3. Plan steps — the executed physical plan is flattened into ordered step
   rows with a small fixed operation vocabulary
   (sys.dm_pdw_request_steps surface, vw_query_steps.sql:14-19).

Catalyst remains the real optimizer/executor — this layer only observes.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .catalog import Catalog, TableLayout
from .meta import Meta
from .operators._frames import small_df, utc
from .plans.steps import plan_steps
from .wlm import AdmissionController


@dataclass
class RequestRecord:
    request_id: str
    command: str
    label: str | None
    resource_class: str
    status: str = "Running"
    submit_time: float = field(default_factory=time.time)
    start_time: float | None = None
    end_time: float | None = None
    total_elapsed_ms: int | None = None
    error_message: str | None = None
    #: sys.dm_pdw_request_steps rows ``(step_index, operation_type, detail,
    #: row_count)``; always replaced whole, never appended to
    steps: list[tuple] = field(default_factory=list)


#: request ids are also Spark job groups, so they are unique per process:
#: two engines on one SparkContext must not claim each other's jobs
_request_ids = itertools.count(1)

#: requests (with their steps) an Engine keeps: sys.dm_pdw_exec_requests
#: retains the last 10,000
REQUEST_HISTORY = 10_000

_REQUESTS_SCHEMA = T.StructType(
    [
        T.StructField("request_id", T.StringType()),
        T.StructField("session_id", T.StringType()),
        T.StructField("command", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("resource_class", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("submit_time", T.TimestampType()),
        T.StructField("total_elapsed_ms", T.LongType()),
        T.StructField("error_message", T.StringType()),
        # the DMV's own name for elapsed ms (vw_query_steps.sql:10)
        T.StructField("total_elapsed_time", T.LongType()),
    ]
)


class Engine:
    """The user-facing engine handle: ``Engine(spark).sql(...)``."""

    def __init__(self, spark: SparkSession | None = None) -> None:
        from .session import get_or_create

        from .maintenance import StatisticsService

        from .ops import OpsService
        from .sources.external import ExternalObjects

        self.spark = get_or_create(spark)
        self.catalog = Catalog(self.spark)
        self.meta = Meta(self.spark, self.catalog)
        self.wlm = AdmissionController()
        self.stats = StatisticsService(self.spark)
        self.ops = OpsService(self.spark, self.catalog)
        self.external = ExternalObjects(self.spark)
        from .pdw_catalog import PdwSysCatalog

        self.pdw_sys = PdwSysCatalog(self)
        self._requests: deque[RequestRecord] = deque(maxlen=REQUEST_HISTORY)
        # requests submitted over the session, past the history's cap too
        self._request_count = 0
        # set once register_monitoring_views has created its SQL views
        self._views_defined = False
        # sys.dm_pdw_exec_sessions parity: one session per Engine handle
        # (UserActivitiesDetails.sql:1-3); loads tracked for the
        # UserActivities "Loads" quadrant (UserActivities.sql:26-31)
        import getpass

        self._session = {
            "session_id": f"SID{id(self) % 100000}",
            "login_name": getpass.getuser(),
            "app_name": self.spark.sparkContext.appName,
            "status": "Active",
            "login_time": time.time(),
        }
        self._load_log: list[dict] = []
        # static principal/role config — vw_security_role_members parity
        # (microsoft.vw_security_role_members.sql:10-12); no real authz
        self._role_members: list[tuple[str, str]] = [("db_owner", "dbo")]
        # result-set caching (M10 — SET RESULT_SET_CACHING parity): off by
        # default like the platform; content-derived keys, see result_cache.py
        from .result_cache import ResultCache

        wh = self.spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        self.result_cache = ResultCache(
            self.spark, os.path.join(wh, "_result_cache")
        )
        self._result_caching = False
        # table → (cache_state, refreshed_at, row_count); M6 surface
        self._replicated_state: dict[str, tuple[str, float, int]] = {}
        self._lock = threading.Lock()

    # --- request lifecycle ----------------------------------------------

    def _new_request(self, command: str, label: str | None, resource_class: str) -> RequestRecord:
        with self._lock:
            rec = RequestRecord(
                request_id=f"QID{next(_request_ids)}",
                command=command,
                label=label,
                resource_class=resource_class,
            )
            self._requests.append(rec)
            self._request_count += 1
        return rec

    def _history(self) -> list[RequestRecord]:
        with self._lock:
            return list(self._requests)

    @contextmanager
    def _running(self, rec: RequestRecord, description: str):
        """Run a request's work under its own job group (the status store
        attributes its jobs to it, sys.dm_pdw_sql_requests); status and
        elapsed time are recorded however the work ends.

        The job group is left set on exit, on purpose: ``sql`` returns a
        lazy frame whose stages run in the caller's later action, and only
        this group ties them to the request.  Restoring the previous group
        would detach a report's own stages until one entry point holds the
        request through the action; until then the thread's later jobs
        (statistics, loads, a caller's unrelated actions) also count under
        the last request."""
        rec.start_time = time.time()
        self.spark.sparkContext.setJobGroup(rec.request_id, description)
        try:
            yield
            rec.status = "Completed"
        except Exception as e:  # noqa: BLE001
            rec.status = "Failed"
            rec.error_message = str(e)[:1000]
            raise
        finally:
            rec.end_time = time.time()
            rec.total_elapsed_ms = int((rec.end_time - rec.start_time) * 1000)

    def set_result_caching(self, on: bool) -> None:
        """``SET RESULT_SET_CACHING ON|OFF`` parity — a per-engine-session
        default; per-query override via ``sql(use_result_cache=...)``."""
        self._result_caching = bool(on)

    def sql(
        self,
        query: str,
        label: str | None = None,
        resource_class: str = "smallrc",
        use_result_cache: bool | None = None,
    ) -> DataFrame:
        """Submit SQL through admission control with request logging.

        The DataFrame is lazy; the request row transitions to Completed once
        the plan is produced, and its step rows are the planned physical
        operators (``finalize_request`` refreshes them with executed row
        counts after the caller materializes).  The request id is set as the
        Spark job group, so the jobs the caller's action runs count toward
        the request in ``task_requests`` (D3).

        With result caching on (M10), a repeated deterministic query over
        unchanged input files is served from the materialized result; any
        input rewrite changes the content-derived key → automatic miss.
        """
        rec = self._new_request(query, label, resource_class)
        with self.wlm.admit(rec.request_id, resource_class), self._running(
            rec, label or query[:100]
        ):
            df = self.spark.sql(query)
            caching = (
                self._result_caching
                if use_result_cache is None
                else use_result_cache
            )
            out = df
            if caching:
                key = self.result_cache.key_for(query, df)
                if key is None:
                    self.result_cache.bypass()
                else:
                    hit = self.result_cache.lookup(key)
                    if hit is not None:
                        rec.steps = [(0, "Return", "ResultCacheHit", None)]
                        return hit
                    out = self.result_cache.store(key, df)
            # a miss's steps are the query's own, not the cached frame's
            rec.steps = [
                (i, op, detail, None) for i, (op, detail) in enumerate(plan_steps(df))
            ]
            return out

    def tsql(self, query: str, resource_class: str = "smallrc") -> DataFrame:
        """Submit a T-SQL-flavored statement: rewritten to Spark SQL
        (functions/rewriter.py), OPTION(LABEL=...) becomes the request
        label — the reference monitoring corpus runs near-verbatim."""
        import re

        from .functions.rewriter import rewrite_tsql

        # session options: SET RESULT_SET_CACHING ON|OFF (M10 — the
        # platform's documented statement form; no result set)
        m = re.match(
            r"(?is)^\s*SET\s+RESULT_SET_CACHING\s+(ON|OFF)\s*;?\s*$", query
        )
        if m:
            self.set_result_caching(m.group(1).upper() == "ON")
            return self.spark.sql("SELECT 1 AS result_set_caching_set").limit(0)

        # row-level DML statement forms (D18): Spark SQL has no DELETE /
        # UPDATE over parquet tables, so these dispatch to the catalog's
        # partition-pruned copy-on-write DML.  Identifiers may be
        # [bracketed]; predicates/assignments go through the expression
        # rewriter so T-SQL scalar shims work inside them.
        dml = self._try_tsql_dml(query)
        if dml is not None:
            return dml

        spark_sql, label = rewrite_tsql(query)
        # schema-qualified external-table refs ([ASB].[t]) resolve to
        # their registered temp views (GenerateLoadScript-V2.sql:99,163)
        spark_sql = self.external.rewrite_refs(spark_sql)
        # SESSION_ID() (UserActivitiesDetails.sql:3) resolves to THIS
        # engine handle's session — an engine-context substitution the
        # engine-agnostic rewriter can't make
        spark_sql = re.sub(
            r"\bSESSION_ID\s*\(\s*\)",
            f"'{self._session['session_id']}'",
            spark_sql,
            flags=re.I,
        )
        return self.sql(spark_sql, label=label, resource_class=resource_class)

    def _try_tsql_dml(self, query: str):
        """DELETE FROM t WHERE p / UPDATE t SET a = e, ... WHERE p →
        catalog predicate DML.  Returns a 1-row (rows_affected) frame, or
        None when the statement is not a DML form."""
        import re

        from .functions.rewriter import rewrite_tsql

        def _ident(s: str) -> str:
            return ".".join(p.strip("[]") for p in s.strip().split("."))

        def _expr(s: str) -> str:
            # reuse the T-SQL expression surface (brackets, shims) by
            # rewriting a SELECT wrapper and unwrapping it
            rewritten, _ = rewrite_tsql(f"SELECT {s}")
            return rewritten[len("SELECT "):]

        def _split_top_level(s: str, sep: str) -> list[str]:
            # split on sep at depth 0, skipping '...' literals ('' escape)
            # and (...)/[...] nesting — `SET name = 'a, b'` is ONE clause
            parts, buf, depth, in_str, i, n = [], "", 0, False, 0, len(s)
            while i < n:
                ch = s[i]
                if in_str:
                    if ch == "'":
                        if i + 1 < n and s[i + 1] == "'":
                            buf += "''"
                            i += 2
                            continue
                        in_str = False
                    buf += ch
                    i += 1
                    continue
                if ch == "'":
                    in_str = True
                elif ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif ch == sep and depth == 0:
                    parts.append(buf)
                    buf = ""
                    i += 1
                    continue
                buf += ch
                i += 1
            parts.append(buf)
            return parts

        def _find_top_level_where(s: str) -> int:
            # position of the first WHERE keyword outside string literals
            # and nesting (a literal containing the word WHERE must not
            # split the statement); -1 if none
            depth, in_str, i, n = 0, False, 0, len(s)
            while i < n:
                ch = s[i]
                if in_str:
                    if ch == "'":
                        if i + 1 < n and s[i + 1] == "'":
                            i += 2
                            continue
                        in_str = False
                    i += 1
                    continue
                if ch == "'":
                    in_str = True
                elif ch in "([":
                    depth += 1
                elif ch in ")]":
                    depth -= 1
                elif depth == 0 and ch in "Ww" and s[i : i + 5].upper() == "WHERE":
                    pre = i == 0 or not (s[i - 1].isalnum() or s[i - 1] in "_$#@")
                    post = i + 5 >= n or not (
                        s[i + 5].isalnum() or s[i + 5] in "_$#@"
                    )
                    if pre and post:
                        return i
                i += 1
            return -1

        def _logged(fn):
            # DML executes eagerly — record it in the request log like any
            # submitted statement (sys.dm_pdw_exec_requests parity)
            rec = self._new_request(query, None, "smallrc")
            with self._running(rec, query[:100]):
                n = fn()
            return self.spark.sql(f"SELECT CAST({n} AS BIGINT) AS rows_affected")

        m = re.match(
            r"(?is)^\s*DELETE\s+FROM\s+([\w.\[\]]+)"
            r"(?:\s+WHERE\s+(.+?))?;?\s*$",
            query,
        )
        if m:
            pred = _expr(m.group(2)) if m.group(2) else "true"  # no WHERE = all rows
            return _logged(
                lambda: self.catalog.delete_where(_ident(m.group(1)), pred)
            )
        m = re.match(
            r"(?is)^\s*UPDATE\s+([\w.\[\]]+)\s+SET\s+(.+?);?\s*$",
            query,
        )
        if m:
            rest = m.group(2)
            wpos = _find_top_level_where(rest)
            set_clause, where_clause = (
                (rest[:wpos], rest[wpos + 5 :]) if wpos >= 0 else (rest, None)
            )
            assigns: dict[str, str] = {}
            for part in _split_top_level(set_clause, ","):
                col, _, val = part.partition("=")
                if not val:
                    raise ValueError(f"malformed SET clause: {part!r}")
                assigns[col.strip().strip("[]")] = _expr(val.strip())
            pred = _expr(where_clause.strip()) if where_clause else "true"
            return _logged(
                lambda: self.catalog.update_where(
                    _ident(m.group(1)), assigns, pred
                )
            )
        return None

    def tsql_script(self, text: str) -> list:
        """Run a multi-batch T-SQL deployment script VERBATIM — the
        ``PRINT 'Info: ...'; GO; CREATE VIEW ...; GO`` shape of the
        monitoring solution (solutions/monitoring/scripts/{schema,views,
        clean}.sql).

        Batches split on ``GO`` lines.  ``PRINT`` batches are logged, not
        executed; ``DROP PROCEDURE`` batches are skipped (procedures are a
        Python API here — D14).  Returns [(batch_sql, DataFrame | None)].
        """
        import re

        results = []
        for batch in re.split(r"(?im)^\s*GO\s*;?\s*$", text):
            stmt = batch.strip().rstrip(";").strip()
            # leading line comments don't decide the batch's kind
            stmt = re.sub(r"(?m)\A(?:\s*--[^\n]*\n)+", "", stmt).strip()
            if not stmt:
                continue
            m = re.match(r"(?is)^PRINT\s+'((?:[^']|'')*)'$", stmt)
            if m:
                results.append((stmt, None))
                continue
            if re.search(r"(?i)\bDROP\s+PROCEDURE\b", stmt):
                results.append((stmt, None))
                continue
            # same dispatch as run_script: external DDL → distributed
            # CTAS → physical CREATE TABLE DDL → plain T-SQL
            results.append((stmt, self.run_script([stmt], dialect="tsql")[0]))
        return results

    def load_csv(
        self,
        path: str,
        table: str,
        columns,
        opts=None,
        layout: TableLayout | None = None,
        mode: str = "errorifexists",
    ):
        """End-to-end PolyBase/CTAS load (§3 EP2): staged varchar read →
        typed cast-and-clean (error policies) → CTAS into a managed table
        with the declared layout → audit row.  Returns the LoadResult."""
        from .sources.csv_loader import CsvLoader

        loader = CsvLoader(self.spark)
        result = loader.load(path, columns, opts, table=table)
        self.create_table_as(table, result.df, layout, mode=mode)
        self._load_log.extend(loader.audit_log)
        return result

    def run_script(self, statements: list[str], dialect: str = "spark") -> list:
        """Execute generated statements in order — the reference's
        WHILE-loop + sp_executesql dynamic-SQL pattern (C1,
        sp_create_statistics.sql:73-85; GenerateLoadScript-V1.sql:76-162).

        The maintenance verb ``REBUILD TABLE t`` (emitted by
        ``CompactionService.generate_rebuild_statements``) dispatches to the
        compaction service; everything else runs through ``sql``/``tsql``.
        """
        from .maintenance import CompactionService

        results: list = []
        comp = None
        for stmt in statements:
            s = stmt.strip()
            if s.upper().startswith("REBUILD TABLE "):
                if comp is None:
                    comp = CompactionService(self.spark, self.catalog, self.meta)
                results.append(comp.rebuild(s[len("REBUILD TABLE "):].strip()))
            elif dialect == "tsql":
                # PolyBase external-object DDL (CTASLoad-Example.sql:1-54)
                if self.external.execute(s):
                    results.append(None)
                    continue
                ctas = self._try_distributed_ctas(s)
                if ctas is not None:
                    results.append(ctas)
                    continue
                if self._try_create_table_ddl(s):
                    results.append(None)
                    continue
                results.append(self.tsql(s))
            else:
                results.append(self.sql(s))
        return results

    _CTAS_RE = __import__("re").compile(
        r"^\s*CREATE\s+TABLE\s+((?:\[[^\]]+\]|\w+)(?:\.(?:\[[^\]]+\]|\w+))?)\s+"
        r"WITH\s*\((?P<with>[^)]*(?:\([^)]*\)[^)]*)*)\)\s*AS\s+(?P<select>.+)$",
        __import__("re").I | __import__("re").S,
    )

    def _try_distributed_ctas(self, stmt: str):
        """``CREATE TABLE t WITH (DISTRIBUTION = HASH(k)|ROUND_ROBIN|
        REPLICATE[, CLUSTERED COLUMNSTORE INDEX|HEAP]) AS SELECT ...``
        (CTASLoad-Example.sql:58-62, GenerateLoadScript-V1.sql:100-120) →
        rewritten SELECT through the engine + declared-layout CTAS.
        Returns the LABEL'd request's DataFrame, or None if not a CTAS."""
        import re

        from .catalog import hash_layout, replicate_layout, round_robin_layout

        m = self._CTAS_RE.match(stmt.rstrip().rstrip(";"))
        if m is None:
            return None
        with_body = m.group("with")
        dm = re.search(
            r"DISTRIBUTION\s*=\s*(HASH\s*\(\s*(\[[^\]]+\]|\w+)\s*\)|ROUND_ROBIN|REPLICATE)",
            with_body,
            re.I,
        )
        if dm is None:
            return None
        dist = dm.group(1).upper()
        if dist.startswith("HASH"):
            layout = hash_layout(dm.group(2).strip("[]`"))
        elif dist == "REPLICATE":
            layout = replicate_layout()
        else:
            layout = round_robin_layout()
        if re.search(r"\bHEAP\b", with_body, re.I):
            layout.index_type = "heap"
        table = ".".join(p.strip("[]`") for p in m.group(1).split("."))
        df = self.tsql(m.group("select"))
        self.create_table_as(table, df, layout)
        return df

    #: T-SQL column type → Spark type for verbatim CREATE TABLE DDL
    _DDL_TYPES = {
        "int": "int", "bigint": "bigint", "smallint": "smallint",
        "tinyint": "tinyint", "bit": "boolean", "date": "date",
        "datetime": "timestamp", "datetime2": "timestamp",
        "smalldatetime": "timestamp", "time": "string",
        "float": "double", "real": "float",
        "money": "decimal(19,4)", "smallmoney": "decimal(10,4)",
        "nvarchar": "string", "varchar": "string", "char": "string",
        "nchar": "string", "sysname": "string", "varbinary": "binary",
        "binary": "binary", "uniqueidentifier": "string",
    }

    @staticmethod
    def _match_paren(s: str, start: int) -> int:
        """Index just past the ')' matching the '(' at ``start``."""
        depth = 0
        for i in range(start, len(s)):
            if s[i] == "(":
                depth += 1
            elif s[i] == ")":
                depth -= 1
                if depth == 0:
                    return i + 1
        raise ValueError("unbalanced parentheses in DDL")

    def _try_create_table_ddl(self, stmt: str) -> bool:
        """Verbatim WWI-style physical DDL (samples/databases/
        wide-world-importers/tables/*.sql): ``CREATE TABLE [S].[T] (cols...)
        WITH (DISTRIBUTION = ..., CLUSTERED [COLUMNSTORE] INDEX [(k ASC)]
        [, PARTITION (col RANGE ...)])`` → an empty managed parquet table
        with the declared layout.

        Mapping: HASH(col) → 60-way hash layout, CLUSTERED INDEX (k) →
        sort-within-files clustering, PARTITION(col RANGE ...) → value
        partitioning on the column (range boundaries are a PDW physical
        detail — Spark prunes on partition values directly).  IDENTITY(s,i)
        is recorded as the surrogate-key column (`catalog.with_identity`
        supplies values at load).  Returns True when the statement was DDL.
        """
        import re

        from pyspark.sql import types as T

        from .catalog import hash_layout, replicate_layout, round_robin_layout

        s = stmt.strip().lstrip("\ufeff").rstrip(";").strip()
        m = re.match(
            r"CREATE\s+TABLE\s+((?:\[[^\]]+\]|\w+)(?:\s*\.\s*(?:\[[^\]]+\]|\w+))?)\s*\(",
            s,
            re.I,
        )
        if m is None:
            return False
        cols_open = m.end() - 1
        cols_close = self._match_paren(s, cols_open)
        rest = s[cols_close:].strip()
        wm = re.match(r"WITH\s*\(", rest, re.I)
        if wm is None:
            return False
        with_body = rest[wm.end() - 1 : self._match_paren(rest, wm.end() - 1)]
        # AS SELECT would have matched the CTAS path before us
        table = ".".join(
            p.strip().strip("[]") for p in m.group(1).split(".")
        ).lower().replace(" ", "_")

        fields, identity_col = [], None
        for coldef in self._split_depth0(s[cols_open + 1 : cols_close - 1]):
            cm = re.match(
                r"\s*(\[[^\]]+\]|\w+)\s+([A-Za-z]\w*)\s*(\(\s*(?:\d+"
                r"(?:\s*,\s*\d+)?|MAX)\s*\))?\s*(IDENTITY\s*\([^)]*\))?"
                r"\s*(NOT\s+NULL|NULL)?\s*$",
                coldef,
                re.I | re.S,
            )
            if cm is None:
                return False
            name = cm.group(1).strip("[]")
            base = cm.group(2).lower()
            if base in ("decimal", "numeric"):
                spark_type = f"decimal{(cm.group(3) or '(18,0)')}"
            else:
                spark_type = self._DDL_TYPES.get(base)
            if spark_type is None:
                return False
            nullable = (cm.group(5) or "NULL").upper().replace(" ", "") != "NOTNULL"
            fields.append(T.StructField(name, T._parse_datatype_string(spark_type), nullable))
            if cm.group(4):
                identity_col = name

        dm = re.search(
            r"DISTRIBUTION\s*=\s*(HASH|ROUND_ROBIN|REPLICATE)"
            r"(?:\s*\(\s*(\[[^\]]+\]|\w+)\s*\))?",
            with_body,
            re.I | re.S,
        )
        dist = (dm.group(1).upper() if dm else "ROUND_ROBIN")
        if dist == "HASH" and dm.group(2):
            layout = hash_layout(dm.group(2).strip("[]"))
        elif dist == "REPLICATE":
            layout = replicate_layout()
        else:
            layout = round_robin_layout()
        cim = re.search(r"CLUSTERED\s+INDEX\s*\(([^)]*)\)", with_body, re.I | re.S)
        if cim:
            layout.index_type = "clustered"
            layout.sort_columns = [
                re.sub(r"\s+(ASC|DESC)\s*$", "", c.strip(), flags=re.I).strip("[] \t\n")
                for c in cim.group(1).split(",")
            ]
        elif re.search(r"\bHEAP\b", with_body, re.I):
            layout.index_type = "heap"
        pm = re.search(r"PARTITION\s*\(\s*(\[[^\]]+\]|\w+)\s+RANGE", with_body, re.I | re.S)
        if pm:
            layout.partition_column = pm.group(1).strip("[]")
        if identity_col:
            layout.identity_column = identity_col

        empty = small_df(self.spark, [], T.StructType(fields))
        self.create_table_as(table, empty, layout)
        return True

    @staticmethod
    def _split_depth0(text: str) -> list[str]:
        out, depth, cur = [], 0, []
        for ch in text:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if "".join(cur).strip():
            out.append("".join(cur))
        return out

    # --- DMV surfaces ----------------------------------------------------

    def exec_requests(self) -> DataFrame:
        """sys.dm_pdw_exec_requests parity (vw_active_queries.sql:9)."""
        sid = self._session["session_id"]
        return small_df(
            self.spark,
            [
                (r.request_id, sid, r.command, r.label, r.resource_class,
                 r.status, utc(r.submit_time), r.total_elapsed_ms,
                 r.error_message, r.total_elapsed_ms)
                for r in self._history()
            ],
            _REQUESTS_SCHEMA,
        )

    def finalize_request(self, request_id: str, df: DataFrame) -> None:
        """Replace a request's step rows with executed-plan metrics (the
        per-step row_count of sys.dm_pdw_request_steps) after the caller has
        materialized the DataFrame."""
        from .plans.steps import executed_steps_with_metrics

        steps = [
            (i, op, detail, rc)
            for i, (op, detail, rc) in enumerate(executed_steps_with_metrics(df))
        ]
        for rec in reversed(self._history()):
            if rec.request_id == request_id:
                rec.steps = steps
                return

    def request_steps(self) -> DataFrame:
        """sys.dm_pdw_request_steps parity (vw_query_steps.sql:14-19;
        location_type/status/total_elapsed_time are the columns
        vw_query_step_details.sql:15-19 projects)."""
        return small_df(
            self.spark,
            [
                (r.request_id, i, op, detail, rc, "Compute", "Complete", None)
                for r in self._history()
                for i, op, detail, rc in r.steps
            ],
            "request_id string, step_index int, operation_type string,"
            " detail string, row_count long, location_type string,"
            " status string, total_elapsed_time long",
        )

    def task_requests(self) -> DataFrame:
        """sys.dm_pdw_sql_requests parity: one row per executed stage of each
        request (vw_sql_requests.sql:8-22).  num_tasks is the stage's
        fan-out — the analogue of per-distribution SQL requests; stages the
        status store has already evicted are skipped.

        Each row also carries the stage's DMS-analogue byte counters
        (shuffle read/write bytes+rows, spill, peak execution memory) — the
        per-step shuffle worker metrics of microsoft.vw_query_step_details.
        sql:24-33.  One ``/jobs`` and one ``/stages`` read of the status REST
        API (metrics.py); empty when the Spark UI is off."""
        from .metrics import request_stages

        rows = request_stages(self.spark, [r.request_id for r in self._history()])
        return small_df(
            self.spark,
            rows,
            "request_id string, job_id int, stage_id int, stage_name string,"
            " num_tasks int, completed_tasks int, failed_tasks int,"
            " shuffle_read_bytes long, shuffle_read_rows long,"
            " shuffle_write_bytes long, shuffle_write_rows long,"
            " memory_spill_bytes long, disk_spill_bytes long,"
            " peak_memory_bytes long, input_bytes long, output_bytes long,"
            " executor_run_ms long",
        )

    def pdw_nodes(self) -> DataFrame:
        """sys.dm_pdw_nodes parity: one row per executor (compute node) plus
        the driver (control node), with per-node resource counters from the
        status REST API (metrics.py)."""
        from .metrics import executor_metrics

        return _nodes_df(self.spark, executor_metrics(self.spark))

    def exec_sessions(self) -> DataFrame:
        """sys.dm_pdw_exec_sessions parity (UserActivitiesDetails.sql:1-3)."""
        s = self._session
        return small_df(
            self.spark,
            [
                (s["session_id"], s["status"], s["login_name"],
                 utc(s["login_time"]), s["app_name"], self._request_count)
            ],
            "session_id string, status string, login_name string,"
            " login_time timestamp, app_name string, request_count int",
        )

    def close_session(self) -> None:
        self._session["status"] = "Closed"

    def resource_waits(self) -> DataFrame:
        """sys.dm_pdw_resource_waits parity (vw_query_queue.sql:10).
        Carries the reference's column names too (``type``,
        ``concurrency_slots_used`` — SlotUsage.sql:3-12) so the sqlops
        monitoring scripts run near-verbatim through the rewriter."""
        from pyspark.sql import functions as F

        return small_df(
            self.spark,
            [
                w + ("UserConcurrencyResourceType", w[4])
                for w in self.wlm.waits_log()
            ],
            "request_id string, resource_class string, state string,"
            " wait_sec double, slots int, type string,"
            " concurrency_slots_used int",
        ).withColumn(
            # when the request entered the queue (queued_queries.sql:4
            # computes queued_sec as GETDATE() - request_time)
            "request_time",
            F.current_timestamp() - F.expr("make_interval(0,0,0,0,0,0,wait_sec)"),
        )

    def register_monitoring_views(self, tables: list[str] | None = None) -> None:
        """Port of the solutions/monitoring view corpus (SURVEY §2.10):
        registers the DMV surfaces, the derived views the reference ships
        and the raw ``sys.*`` catalog (pdw_catalog.py); ``tables`` are the
        tables whose files feed the storage views.

        Base relations are replaced on every call, each a local relation
        of rows read on the driver, so a call runs no Spark job:

        * engine state — meta_requests, meta_request_steps,
          meta_resource_waits, meta_sessions, meta_load_runs,
          meta_statistics, meta_role_members, meta_backup_runs,
          meta_operation_status, vw_slo_status, vw_tde_status and the
          external-object catalog (meta_external_tables,
          meta_external_data_sources, meta_external_file_formats,
          meta_credentials);
        * the catalog walk and the parquet footers (meta.py) — meta_tables,
          meta_columns, meta_partition_stats, meta_rowgroups, and
          vw_impacted_tables from those rows and the statistics ledger;
        * the status REST API (metrics.py) — meta_task_requests, meta_nodes;
        * the ``pdw_sys_*`` relations ``PdwSysCatalog.register`` builds from
          the ledgers: schemas, partitions, stats, dm_pdw_nodes and its
          os_performance_counters, dm_pdw_waits, dm_pdw_dms_external_work,
          dm_pdw_sql_requests, dm_pdw_nodes_exec_query_memory_grants,
          database_principals, database_role_members, databases,
          database_service_objectives.

        Every other relation — ``meta.VIEWS`` (__table_sizes_detail,
        vw_tables_with_skew), ``_VIEWS`` below (the other ``vw_*`` views and
        meta_memory) and ``pdw_catalog.VIEWS`` (the other ``pdw_sys_*``
        relations) — is SQL text over those names, created once per Engine
        by the first call: a SQL temp view resolves the relations it names
        each time it is read, while a DataFrame-backed one would keep the
        relations it was built over.
        """
        from .maintenance import IMPACTED_SCHEMA, impacted_rows
        from .meta import VIEWS as META_VIEWS
        from .metrics import executor_metrics
        from .pdw_catalog import VIEWS as PDW_VIEWS

        schemas, table_rows, footers = self.meta._register(tables)
        executors = executor_metrics(self.spark)
        # the walk's names are lower case; ``tables`` may not be
        distribution = {r[2]: r[4] for r in table_rows}
        base = {
            "meta_requests": self.exec_requests(),
            "meta_request_steps": self.request_steps(),
            "meta_resource_waits": self.resource_waits(),
            "meta_task_requests": self.task_requests(),
            "meta_nodes": _nodes_df(self.spark, executors),
            "meta_sessions": self.exec_sessions(),
            # UserActivities.sql:26-31's "Loads" quadrant
            "meta_load_runs": small_df(
                self.spark,
                [
                    (e["path"], e["table"], e["rows_loaded"],
                     e["rows_rejected"], float(e["elapsed_sec"]))
                    for e in self._load_log
                ],
                "path string, table string, rows_loaded long,"
                " rows_rejected long, elapsed_sec double",
            ),
            # one row per ANALYZE (microsoft.vw_statistics_age.sql:5-22)
            "meta_statistics": small_df(
                self.spark,
                [
                    (e["table"], ",".join(e["columns"]), utc(e["analyzed_at"]),
                     e.get("mode", "default"), float(e.get("sample_pct", 100.0)))
                    for e in self.stats._ledger
                ],
                "table_name string, stats_columns string,"
                " analyzed_at timestamp, scan_mode string, sample_pct double",
            ),
            "meta_role_members": small_df(
                self.spark, self._role_members, "role_name string, member_name string"
            ),
            # ops surfaces (LatestBackup.sql:2-10, slo_status.sql:1-31,
            # transparent_data_encryption_status.sql:1-9)
            "meta_backup_runs": self.ops.backup_runs(),
            "meta_operation_status": self.ops.operation_status(),
            "vw_slo_status": self.ops.slo_status(),
            "vw_tde_status": self.ops.tde_status(schemas),
            # stats-drift + skew classification (sqlops ImpactedTables:1-56)
            "vw_impacted_tables": small_df(
                self.spark,
                impacted_rows(
                    [(s, t, n) for s, t, _path, _dist, n, *_ in footers],
                    tables or [], self.stats.last_analyzed_rows,
                    lambda t: distribution.get(t.lower()),
                ),
                IMPACTED_SCHEMA,
            ),
        }
        for name, df in base.items():
            df.createOrReplaceTempView(name)
        self.external.register_views()
        self.pdw_sys.register(schemas, table_rows, executors)
        if not self._views_defined:
            for name, sql in {**META_VIEWS, **_VIEWS, **PDW_VIEWS}.items():
                self.spark.sql(f"CREATE OR REPLACE TEMP VIEW {name} AS {sql}")
            self._views_defined = True
        from pyspark.sql import types as T

        cur_db = self.spark.catalog.currentDatabase()
        # DB_NAME(db_id) with an argument (TempdbConsumption.sql:6):
        # database_id 2 is tempdb, like SQL Server's fixed id
        self.spark.udf.register(
            "DB_NAME",
            lambda dbid: "tempdb" if dbid == 2 else cur_db,
            T.StringType(),
        )

    def refresh_replicated_tables(self, schemas: list[str] | None = None) -> list[str]:
        """Replicated-table cache refresh (M6, RefreshReplicatedTable.ps1:
        36-57): after a write invalidates a replicated table's cached copy,
        re-read ('touch') every replicate-layout table so the next join
        broadcasts fresh data; records the refresh in the replicated-state
        log (sys.pdw_replicated_table_cache_state parity)."""
        import time as _time

        refreshed = []
        # SHOW commands, like Meta._walk: PySpark's catalog listings read
        # the JVM result through Spark jobs
        for (db,) in self.spark.sql("SHOW DATABASES").collect():
            if schemas is not None and db not in schemas:
                continue
            views = {
                r[1] for r in self.spark.sql(f"SHOW VIEWS IN `{db}`").collect()
            }
            tables = self.spark.sql(f"SHOW TABLES IN `{db}`").collect()
            for _ns, t, temporary in tables:
                if temporary or t in views:
                    continue
                name = f"{db}.{t}"
                try:
                    layout = self.catalog.get_layout(name)
                except Exception:  # noqa: BLE001 — non-managed tables
                    continue
                if layout.distribution != "replicate":
                    continue
                self.spark.catalog.refreshTable(name)
                rows = self.spark.table(Catalog._q(name)).count()
                self._replicated_state[name] = ("Ready", _time.time(), rows)
                refreshed.append(name)
        return refreshed

    def replicated_state(self) -> DataFrame:
        """sys.pdw_replicated_table_cache_state parity."""
        return small_df(
            self.spark,
            [
                (t, state, utc(ts), n)
                for t, (state, ts, n) in self._replicated_state.items()
            ],
            "table_name string, cache_state string, refreshed_at timestamp,"
            " row_count long",
        )

    def set_role_members(self, role: str, members: list[str]) -> None:
        """Replace the member list of a role (static authz config)."""
        self._role_members = [m for m in self._role_members if m[0] != role] + [
            (role, m) for m in members
        ]

    # --- convenience passthroughs ---------------------------------------

    def create_schema(self, name: str) -> None:
        self.catalog.create_schema(name)

    def create_table_as(self, table: str, df: DataFrame, layout: TableLayout | None = None, **kw) -> None:
        self.catalog.create_table_as(table, df, layout, **kw)

    def table(self, name: str) -> DataFrame:
        return self.catalog.table(name)

    def export_training_shards(
        self,
        source: str | DataFrame,
        path: str,
        key_col: str,
        n_shards: int,
        seed: str = "",
    ) -> dict:
        """Export a table (or frame) as verified training shards: the
        deterministic shuffle-shard write (operators/shards.py) plus its
        integrity manifest — logged like any other request, so
        ``sys.dm_pdw_exec_requests`` shows the export.

        Exactly ONE pass over the source (the write itself, row-counted
        in-flight via ``Observation``) and ONE narrow scan of the written
        output (shard_id + key column) that derives the manifest from the
        bytes on disk.  Raises if the on-disk total disagrees with the
        write-observed row count (a torn write must not masquerade as a
        usable export); later tamper/bitrot audits run ``verify_shards``
        against the persisted manifest.

        Returns ``{"path", "n_shards", "n_rows", "verified"}``.
        """
        from .operators.shards import (
            write_manifest_from_export,
            write_training_shards,
        )

        df = self.catalog.table(source) if isinstance(source, str) else source
        label = f"export_training_shards({path})"
        rec = self._new_request(label, label, "largerc")
        with self._running(rec, label):
            n_written = write_training_shards(df, path, key_col, n_shards, seed)
            man_rows = write_manifest_from_export(self.spark, path, key_col, seed)
            n_rows = int(sum(r.n_rows for r in man_rows))
            if n_rows != n_written:
                raise RuntimeError(
                    f"shard export torn: write processed {n_written} rows "
                    f"but {n_rows} landed on disk"
                )
        return {
            "path": path,
            "n_shards": n_shards,
            "n_rows": n_rows,
            "verified": True,
        }


_NODES_SCHEMA = (
    "node_id string, node_type string, host_port string,"
    " is_active boolean, rdd_blocks long, memory_used_bytes long,"
    " disk_used_bytes long, total_cores long, max_tasks long,"
    " active_tasks long, completed_tasks long, failed_tasks long,"
    " total_task_ms long, total_gc_ms long, input_bytes long,"
    " shuffle_read_bytes long, shuffle_write_bytes long,"
    " max_memory_bytes long"
)


def _nodes_df(spark: SparkSession, executors: list[dict]) -> DataFrame:
    """meta_nodes: ``metrics.executor_metrics`` rows as a local relation."""
    names = [c.split()[0] for c in _NODES_SCHEMA.split(",")]
    return small_df(
        spark, [tuple(e[n] for n in names) for e in executors], _NODES_SCHEMA
    )


#: the monitoring views derived from the base relations, as SQL text
#: (``Engine.register_monitoring_views`` creates them once, in this order)
_VIEWS = {
    # microsoft.vw_active_queries.sql:6-11
    "vw_active_queries": """
        SELECT request_id, status, submit_time, total_elapsed_ms,
               resource_class, label, command
        FROM meta_requests
        WHERE status NOT IN ('Completed', 'Failed', 'Cancelled')""",
    # microsoft.vw_query_queue.sql:8-16
    "vw_query_queue": """
        SELECT request_id, resource_class, wait_sec AS queued_sec, slots
        FROM meta_resource_waits
        WHERE state = 'Queued'""",
    # microsoft.vw_query_slots.sql:6-16
    "vw_query_slots": """
        SELECT resource_class,
               SUM(CASE WHEN state = 'Granted' THEN slots ELSE 0 END) AS granted_slots,
               SUM(CASE WHEN state = 'Queued' THEN 1 ELSE 0 END) AS queued_requests
        FROM meta_resource_waits
        GROUP BY resource_class""",
    # concurrency pivot (running_queued_queries_slots.sql:1-12)
    "vw_running_queued_slots": """
        SELECT
          SUM(CASE WHEN state = 'Granted' THEN 1 ELSE 0 END) AS running_queries,
          SUM(CASE WHEN state = 'Granted' THEN slots ELSE 0 END) AS running_queries_slots,
          SUM(CASE WHEN state = 'Queued' THEN 1 ELSE 0 END) AS queued_queries,
          SUM(CASE WHEN state = 'Queued' THEN slots ELSE 0 END) AS queued_queries_slots
        FROM meta_resource_waits""",
    "vw_query_steps": """
        SELECT s.request_id, s.step_index, s.operation_type,
               s.row_count, s.detail
        FROM meta_request_steps s""",
    # per-"distribution" execution (sys.dm_pdw_sql_requests,
    # vw_sql_requests.sql:8-22): our distribution = task; one row per
    # executed stage with its task fan-out + DMS-analogue byte counters
    "vw_sql_requests": """
        SELECT request_id, job_id, stage_id, stage_name,
               num_tasks, completed_tasks, failed_tasks,
               shuffle_read_bytes, shuffle_read_rows,
               shuffle_write_bytes, shuffle_write_rows,
               memory_spill_bytes, disk_spill_bytes, peak_memory_bytes,
               input_bytes, output_bytes, executor_run_ms
        FROM meta_task_requests""",
    # step details + the request's shuffle totals (the reference joins
    # per-step DMS worker bytes/rows, microsoft.vw_query_step_details
    # .sql:24-33; our steps are plan-level, so the stage counters roll up
    # per request)
    "vw_query_step_details": """
        SELECT r.request_id, r.label, r.command, r.resource_class,
               r.total_elapsed_ms,
               s.step_index, s.operation_type, s.row_count, s.detail,
               COALESCE(t.shuffle_read_bytes, 0) AS shuffle_read_bytes,
               COALESCE(t.shuffle_read_rows, 0) AS shuffle_read_rows,
               COALESCE(t.shuffle_write_bytes, 0) AS shuffle_write_bytes,
               COALESCE(t.shuffle_write_rows, 0) AS shuffle_write_rows
        FROM meta_requests r
        JOIN meta_request_steps s ON r.request_id = s.request_id
        LEFT JOIN (
          SELECT request_id,
                 SUM(shuffle_read_bytes) AS shuffle_read_bytes,
                 SUM(shuffle_read_rows) AS shuffle_read_rows,
                 SUM(shuffle_write_bytes) AS shuffle_write_bytes,
                 SUM(shuffle_write_rows) AS shuffle_write_rows
          FROM meta_task_requests GROUP BY request_id
        ) t ON r.request_id = t.request_id""",
    # memory/tempdb monitoring (query_memory_usage.sql:22-42,
    # MemoryConsumption.sql:24-35, TempdbConsumption.sql:2-7): Spark's peak
    # execution memory = the memory grant actually used; disk spill =
    # tempdb consumption
    "meta_memory": """
        SELECT request_id, job_id, stage_id,
               peak_memory_bytes, memory_spill_bytes, disk_spill_bytes
        FROM meta_task_requests""",
    "vw_memory_consumption": """
        SELECT m.request_id, r.label, r.resource_class,
               MAX(m.peak_memory_bytes) AS peak_memory_bytes,
               ROUND(MAX(m.peak_memory_bytes) / 1024.0, 3) AS peak_memory_kb,
               SUM(m.memory_spill_bytes) AS memory_spill_bytes,
               SUM(m.disk_spill_bytes) AS disk_spill_bytes
        FROM meta_memory m
        JOIN meta_requests r ON m.request_id = r.request_id
        GROUP BY m.request_id, r.label, r.resource_class""",
    "vw_tempdb_usage": """
        SELECT request_id,
               SUM(disk_spill_bytes) AS tempdb_bytes,
               ROUND(SUM(disk_spill_bytes) / 1e6, 3) AS tempdb_mb
        FROM meta_memory
        GROUP BY request_id""",
    # the four-quadrant activity monitor (UserActivities.sql:1-31: active
    # sessions / active queries / queued queries / running loads)
    "vw_user_activities": """
        SELECT
          (SELECT COUNT(*) FROM meta_sessions
           WHERE status <> 'Closed') AS Active_Sessions,
          (SELECT COUNT(*) FROM meta_requests
           WHERE status NOT IN ('Completed','Failed','Cancelled')) AS Active_Queries,
          (SELECT COUNT(*) FROM meta_resource_waits
           WHERE state = 'Queued') AS Queued_Queries,
          (SELECT COUNT(*) FROM meta_load_runs) AS Loads""",
    # microsoft.vw_statistics_age.sql:5-22
    "vw_statistics_age": """
        SELECT table_name,
               MAX(analyzed_at) AS last_analyzed,
               DATEDIFF(current_date(), MAX(analyzed_at)) AS age_days
        FROM meta_statistics
        GROUP BY table_name""",
    # LatestBackup.sql:2-10: TOP 1 by run_id DESC with duration
    "vw_latest_backup": """
        SELECT start_time, end_time, progress_percent,
               CAST(CAST(end_time AS DOUBLE) - CAST(start_time AS DOUBLE)
                    AS BIGINT) AS duration_seconds
        FROM meta_backup_runs
        ORDER BY run_id DESC LIMIT 1""",
    # microsoft.vw_security_role_members.sql:10-12
    "vw_security_role_members": """
        SELECT role_name, member_name FROM meta_role_members""",
    # full-fidelity per-distribution space accounting (microsoft.
    # vw_table_sizes.sql:4-99) over meta.py's __table_sizes_detail: the
    # reference's row_count / distribution_policy / index_type column names
    # carry straight through, plus used_bytes and distribution_policy for
    # engine-side convenience
    "vw_table_sizes": """
        SELECT d.*,
               d.reserved_space_page_count * 8192 AS used_bytes,
               d.distribution_policy_name AS distribution_policy
        FROM __table_sizes_detail d""",
    # the four space rollups the reference derives from vw_table_sizes
    "vw_table_space_summary": """
        SELECT database_name, schema_name, table_name, two_part_name,
               distribution_policy_name, distribution_column,
               index_type_desc,
               COUNT(DISTINCT distribution_id) AS nbr_partitions,
               COUNT(*) AS nbr_files,
               SUM(row_count) AS table_row_count,
               SUM(row_count) AS row_count,
               SUM(reserved_space_GB) AS table_reserved_space_GB,
               SUM(data_space_GB) AS table_data_space_GB,
               SUM(index_space_GB) AS table_index_space_GB,
               SUM(unused_space_GB) AS table_unused_space_GB
        FROM vw_table_sizes
        GROUP BY 1, 2, 3, 4, 5, 6, 7""",
    "vw_table_space_by_distribution": """
        SELECT schema_name, table_name, distribution_id,
               SUM(row_count) AS total_node_distribution_row_count,
               SUM(row_count) AS row_count,
               SUM(reserved_space_MB) AS total_node_distribution_reserved_space_MB,
               SUM(data_space_MB) AS total_node_distribution_data_space_MB,
               SUM(index_space_MB) AS total_node_distribution_index_space_MB,
               SUM(unused_space_MB) AS total_node_distribution_unused_space_MB
        FROM vw_table_sizes
        GROUP BY 1, 2, 3""",
    "vw_table_space_by_distribution_type": """
        SELECT distribution_policy_name,
               COUNT(DISTINCT two_part_name) AS table_count,
               SUM(row_count) AS table_type_row_count,
               SUM(row_count) AS row_count,
               SUM(reserved_space_GB) AS table_type_reserved_space_GB,
               SUM(data_space_GB) AS table_type_data_space_GB,
               SUM(index_space_GB) AS table_type_index_space_GB,
               SUM(unused_space_GB) AS table_type_unused_space_GB
        FROM vw_table_sizes GROUP BY 1""",
    "vw_table_space_by_index_type": """
        SELECT index_type_desc,
               COUNT(DISTINCT two_part_name) AS table_count,
               SUM(row_count) AS table_type_row_count,
               SUM(row_count) AS row_count,
               SUM(reserved_space_GB) AS table_type_reserved_space_GB,
               SUM(data_space_GB) AS table_type_data_space_GB,
               SUM(index_space_GB) AS table_type_index_space_GB,
               SUM(unused_space_GB) AS table_type_unused_space_GB
        FROM vw_table_sizes GROUP BY 1""",
}
