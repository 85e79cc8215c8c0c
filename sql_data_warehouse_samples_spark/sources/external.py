"""PolyBase external-object DDL surface (SURVEY §2.9 D5).

Lets the reference's external-load scripts run near-verbatim through
``Engine.run_script(dialect="tsql")`` — the six-step CTAS load of
``CTASLoad-Example.sql:1-62``:

1. ``CREATE MASTER KEY ENCRYPTION BY PASSWORD = '...'``
2. ``CREATE DATABASE SCOPED CREDENTIAL c WITH IDENTITY='...', SECRET='...'``
3. ``CREATE EXTERNAL DATA SOURCE s WITH (TYPE=HADOOP, LOCATION=..., CREDENTIAL=c)``
4. ``CREATE EXTERNAL FILE FORMAT f WITH (FORMAT_TYPE=DELIMITEDTEXT, ...)``
5. ``CREATE EXTERNAL TABLE t (cols) WITH (LOCATION=..., DATA_SOURCE=s, ...)``
6. ``CREATE TABLE d WITH (DISTRIBUTION=HASH(k)) AS SELECT * FROM t`` (engine.py)

External tables resolve to the CSV loader's staged-varchar → cast-clean
pipeline and register as temp views, so the CTAS step is ordinary Spark SQL
over a lazily-scanned external relation — filters/pruning push into the
scan like any DataFrame source.  Secrets are NEVER stored: credentials keep
only the identity string and a flag that a secret was supplied.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..functions.tsql import tsql_type_to_spark
from ..operators._frames import small_df
from .csv_loader import ColumnSpec, CsvLoader, LoadOptions


@dataclass
class ScopedCredential:
    name: str
    identity: str
    has_secret: bool  # the secret itself is discarded, by design


@dataclass
class ExternalDataSource:
    name: str
    source_type: str
    location: str
    credential: str | None


@dataclass
class ExternalFileFormat:
    name: str
    format_type: str = "DELIMITEDTEXT"
    field_terminator: str = ","
    # PolyBase's STRING_DELIMITER defaults to EMPTY (no quoting): quotes
    # are data unless the format declares a delimiter — V2 relies on this
    # (it stages quoted fields verbatim and strips quotes in the CTAS)
    string_delimiter: str | None = None
    date_format: str | None = None
    use_type_default: bool = False
    compression: str | None = None


@dataclass
class ExternalTable:
    name: str
    columns: list[ColumnSpec]
    location: str
    data_source: str
    file_format: str
    reject_type: str = "VALUE"
    reject_value: int | None = None  # None: DDL omitted REJECT_VALUE


def _unq(s: str) -> str:
    """Strip [brackets] / backticks from an identifier."""
    return s.strip().strip("[]`")


def _unescape_lit(s: str) -> str:
    return s.replace("''", "'")


_MASTER_KEY_RE = re.compile(
    r"^\s*CREATE\s+MASTER\s+KEY\s+ENCRYPTION\s+BY\s+PASSWORD\s*=\s*'((?:[^']|'')*)'\s*;?\s*$",
    re.I,
)
_CREDENTIAL_RE = re.compile(
    r"^\s*CREATE\s+DATABASE\s+SCOPED\s+CREDENTIAL\s+(\S+)\s+WITH\s+"
    r"IDENTITY\s*=\s*'((?:[^']|'')*)'\s*(?:,\s*SECRET\s*=\s*'((?:[^']|'')*)')?\s*;?\s*$",
    re.I | re.S,
)
_DATA_SOURCE_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+DATA\s+SOURCE\s+(\S+)\s+WITH\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_FILE_FORMAT_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+FILE\s+FORMAT\s+(\S+)\s+WITH\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
_EXTERNAL_TABLE_RE = re.compile(
    r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(\S+)\s*\((.*)\)\s*WITH\s*\((.*)\)\s*;?\s*$",
    re.I | re.S,
)
# per-table cleanup loop of the container-per-table load
# (GenerateLoadScript-V2.sql:168-173)
_DROP_EXTERNAL_RE = re.compile(
    r"^\s*DROP\s+EXTERNAL\s+(TABLE|DATA\s+SOURCE|FILE\s+FORMAT)\s+(\S+?)\s*;?\s*$",
    re.I,
)


def _kv_options(body: str) -> dict[str, str]:
    """Parse ``K = V, K2 = 'v2', F(...)`` option bodies into {K: V} (nested
    parens kept verbatim under their key, quotes preserved)."""
    out: dict[str, str] = {}
    depth, key, buf, cur = 0, None, [], []
    i = 0
    in_lit = False
    while i < len(body):
        ch = body[i]
        if ch == "'":
            in_lit = not in_lit
            cur.append(ch)
        elif in_lit:
            cur.append(ch)
        elif ch == "(":
            # the no-equals `KEY (...)` form — FORMAT_OPTIONS
            # (FIELD_TERMINATOR = ..., ...) in every reference load script
            if depth == 0 and key is None and "".join(cur).strip():
                key = "".join(cur).strip().upper()
                cur = []
            depth += 1
            cur.append(ch)
        elif ch == ")":
            depth -= 1
            cur.append(ch)
        elif ch == "=" and depth == 0 and key is None:
            key = "".join(cur).strip().upper()
            cur = []
        elif ch == "," and depth == 0:
            if key is not None:
                out[key] = "".join(cur).strip()
            key, cur = None, []
        else:
            cur.append(ch)
        i += 1
    if key is not None:
        out[key] = "".join(cur).strip()
    return out


def _lit_or_ident(v: str) -> str:
    v = v.strip()
    if v.startswith("'") and v.endswith("'"):
        return _unescape_lit(v[1:-1])
    return _unq(v)


def _split_columns(body: str) -> list[str]:
    """Split a column-def list on depth-0 commas."""
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur and "".join(cur).strip():
        parts.append("".join(cur))
    return parts


def _parse_column(defn: str) -> ColumnSpec:
    m = re.match(
        r"\s*(\[[^\]]+\]|`[^`]+`|\w+)\s+(\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?)"
        r"\s*(NOT\s+NULL|NULL)?\s*$",
        defn.strip(),
        re.I,
    )
    if not m:
        raise ValueError(f"cannot parse external column definition: {defn!r}")
    name = _unq(m.group(1))
    tsql_type = m.group(2).replace(" ", "")
    nullable = not (m.group(3) or "").upper().startswith("NOT")
    max_length = None
    lm = re.match(r"(?:var)?n?char\s*\(\s*(\d+)\s*\)", tsql_type, re.I)
    if lm:
        max_length = int(lm.group(1))
    return ColumnSpec(
        name=name,
        data_type=tsql_type_to_spark(tsql_type),
        nullable=nullable,
        max_length=max_length,
    )


class ExternalObjects:
    """Catalog of credentials / data sources / file formats / external
    tables, with a DDL dispatcher (`execute`) and DataFrame resolution."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self.has_master_key = False
        self.credentials: dict[str, ScopedCredential] = {}
        self.data_sources: dict[str, ExternalDataSource] = {}
        self.file_formats: dict[str, ExternalFileFormat] = {}
        self.tables: dict[str, ExternalTable] = {}
        # schema-qualified DDL name → registered temp-view name, so
        # queries can keep the reference's [ASB].[t] form
        # (GenerateLoadScript-V2.sql:99,163)
        self.qualified: dict[str, str] = {}

    # --- DDL dispatch -----------------------------------------------------

    def execute(self, statement: str) -> bool:
        """Try to handle one statement; True if it was external-object DDL."""
        if _MASTER_KEY_RE.match(statement):
            self.has_master_key = True
            return True
        m = _CREDENTIAL_RE.match(statement)
        if m:
            name = _unq(m.group(1))
            self.credentials[name] = ScopedCredential(
                name=name,
                identity=_unescape_lit(m.group(2)),
                has_secret=m.group(3) is not None,
            )
            return True
        m = _DATA_SOURCE_RE.match(statement)
        if m:
            name = _unq(m.group(1))
            opts = _kv_options(m.group(2))
            self.data_sources[name] = ExternalDataSource(
                name=name,
                source_type=_lit_or_ident(opts.get("TYPE", "HADOOP")),
                location=_lit_or_ident(opts.get("LOCATION", "")),
                credential=_lit_or_ident(opts["CREDENTIAL"])
                if "CREDENTIAL" in opts
                else None,
            )
            return True
        m = _FILE_FORMAT_RE.match(statement)
        if m:
            name = _unq(m.group(1))
            opts = _kv_options(m.group(2))
            fmt = ExternalFileFormat(
                name=name,
                format_type=_lit_or_ident(opts.get("FORMAT_TYPE", "DELIMITEDTEXT")),
                compression=_lit_or_ident(opts["DATA_COMPRESSION"])
                if "DATA_COMPRESSION" in opts
                else None,
            )
            fo = opts.get("FORMAT_OPTIONS", "")
            fo_body = fo[fo.find("(") + 1 : fo.rfind(")")] if "(" in fo else ""
            fopts = _kv_options(fo_body)
            if "FIELD_TERMINATOR" in fopts:
                term = _lit_or_ident(fopts["FIELD_TERMINATOR"])
                if re.fullmatch(r"0x[0-9a-fA-F]{2}", term):
                    term = chr(int(term, 16))
                fmt.field_terminator = term
            if "STRING_DELIMITER" in fopts:
                fmt.string_delimiter = _lit_or_ident(fopts["STRING_DELIMITER"])
            if "DATE_FORMAT" in fopts:
                fmt.date_format = _lit_or_ident(fopts["DATE_FORMAT"])
            if "USE_TYPE_DEFAULT" in fopts:
                fmt.use_type_default = fopts["USE_TYPE_DEFAULT"].strip().upper() == "TRUE"
            self.file_formats[name] = fmt
            return True
        m = _EXTERNAL_TABLE_RE.match(statement)
        if m:
            parts = [_unq(p) for p in m.group(1).split(".")]
            name = parts[-1]
            opts = _kv_options(m.group(3))
            tbl = ExternalTable(
                name=name,
                columns=[_parse_column(c) for c in _split_columns(m.group(2))],
                location=_lit_or_ident(opts.get("LOCATION", "/")),
                data_source=_lit_or_ident(opts.get("DATA_SOURCE", "")),
                file_format=_lit_or_ident(opts.get("FILE_FORMAT", "")),
                reject_type=_lit_or_ident(opts.get("REJECT_TYPE", "VALUE")),
                reject_value=int(opts["REJECT_VALUE"]) if "REJECT_VALUE" in opts else None,
            )
            self.tables[name] = tbl
            if len(parts) == 2:
                self.qualified[".".join(parts)] = name
            self.df(name).createOrReplaceTempView(name)
            return True
        m = _DROP_EXTERNAL_RE.match(statement)
        if m:
            kind = re.sub(r"\s+", " ", m.group(1).upper())
            name = _unq(m.group(2).split(".")[-1])
            if kind == "TABLE":
                self.tables.pop(name, None)
                self.qualified = {
                    q: v for q, v in self.qualified.items() if v != name
                }
                self.spark.catalog.dropTempView(name)
            elif kind == "DATA SOURCE":
                self.data_sources.pop(name, None)
            else:
                self.file_formats.pop(name, None)
            return True
        return False

    def rewrite_refs(self, sql: str) -> str:
        """Replace schema-qualified external-table references (already
        de-bracketed by the T-SQL rewriter) with their registered
        temp-view names — Spark temp views are single-part, but the
        reference scripts always write ``[ASB].[table]``."""
        for q, v in self.qualified.items():
            sch, tbl = q.split(".", 1)
            backticked = re.escape(f"`{sch}`.`{tbl}`")
            plain = rf"(?<![\w.`]){re.escape(q)}(?![\w.`])"
            sql = re.sub(rf"(?i){backticked}|{plain}", v, sql)
        return sql

    # --- resolution -------------------------------------------------------

    def _load_options(self, tbl: ExternalTable) -> LoadOptions:
        fmt = self.file_formats[tbl.file_format]
        compression = None
        if fmt.compression and "gzip" in fmt.compression.lower():
            compression = "gzip"
        return LoadOptions(
            sep=fmt.field_terminator,
            # no STRING_DELIMITER → quotes are DATA (PolyBase semantics;
            # GenerateLoadScript-V2.sql stages quoted fields verbatim and
            # strips them in the CTAS cast); U+0000 disables csv quoting
            quote=fmt.string_delimiter or "\u0000",
            date_format=fmt.date_format,
            timestamp_format=fmt.date_format,
            compression=compression,
            on_error="discard",
            reject_value=tbl.reject_value,
        )

    def resolve_path(self, tbl: ExternalTable) -> str:
        ds = self.data_sources[tbl.data_source]
        return ds.location.rstrip("/") + "/" + tbl.location.lstrip("/")

    def df(self, table_name: str) -> DataFrame:
        """Lazy cleaned DataFrame over the external location (the PolyBase
        external-table scan).  REJECT_VALUE enforcement happens when a load
        materializes it via ``CsvLoader.load`` (Engine CTAS path)."""
        tbl = self.tables[table_name]
        loader = CsvLoader(self.spark)
        opts = self._load_options(tbl)
        staged = loader.read_staged(self.resolve_path(tbl), tbl.columns, opts)
        bad = loader._bad_row_flag(tbl.columns, opts)
        cleaned = staged.withColumn("_is_bad", bad).filter("NOT _is_bad")
        return cleaned.select(*[loader._clean_column(s, opts) for s in tbl.columns])

    def register_views(self) -> None:
        """sys.external_tables / external_data_sources / external_file_formats
        / database_credentials parity views (GenerateLoadScript-V1.sql:11-15,
        sp_create_statistics.sql:54 exclusion joins).  Secrets stay masked."""
        self.describe().createOrReplaceTempView("meta_external_tables")
        for name, rows, schema in [
            (
                "meta_external_data_sources",
                [
                    (d.name, d.source_type, d.location, d.credential)
                    for d in self.data_sources.values()
                ],
                "name string, source_type string, location string,"
                " credential string",
            ),
            (
                "meta_external_file_formats",
                [
                    (f.name, f.format_type, f.field_terminator,
                     f.string_delimiter, f.date_format, f.use_type_default,
                     f.compression)
                    for f in self.file_formats.values()
                ],
                "name string, format_type string, field_terminator string,"
                " string_delimiter string, date_format string,"
                " use_type_default boolean, compression string",
            ),
            (
                "meta_credentials",
                [(c.name, c.identity, c.has_secret) for c in self.credentials.values()],
                "name string, identity string, has_secret boolean",
            ),
        ]:
            small_df(self.spark, rows, schema).createOrReplaceTempView(name)

    def describe(self) -> DataFrame:
        """sys.external_tables-style listing (secrets never surfaced)."""
        return small_df(
            self.spark,
            [
                (t.name, self.resolve_path(t), t.data_source, t.file_format,
                 t.reject_value, len(t.columns))
                for t in self.tables.values()
            ],
            "table_name string, location string, data_source string,"
            " file_format string, reject_value int, n_columns int",
        )
