"""Loader tests: the data-load README's torture cases (SURVEY §5.4 —
quoted nulls, embedded escaped quotes, control-char newlines, SOH
separators) plus DBLoader error policies (L1-L7)."""

from __future__ import annotations

import gzip
import os

import pytest

from sql_data_warehouse_samples_spark.sources.csv_loader import (
    ColumnSpec,
    CsvLoader,
    LoadOptions,
)

COLS = [
    ColumnSpec("id", "int", nullable=False),
    ColumnSpec("name", "string", max_length=10),
    ColumnSpec("amount", "double"),
    ColumnSpec("born", "date"),
]


@pytest.fixture()
def loader(spark):
    return CsvLoader(spark)


def write(tmp_path, name, text, compress=False):
    p = os.path.join(tmp_path, name)
    if compress:
        with gzip.open(p, "wt") as f:
            f.write(text)
    else:
        with open(p, "w") as f:
            f.write(text)
    return p


def test_clean_load(loader, tmp_path):
    p = write(tmp_path, "ok.csv", "1,alice,10.5,1990-01-01\n2,bob,20.25,1985-06-15\n")
    res = loader.load(p, COLS)
    assert res.rows_loaded == 2 and res.rows_rejected == 0
    rows = {r.id: r for r in res.df.collect()}
    assert rows[1].name == "alice" and abs(rows[2].amount - 20.25) < 1e-9


def test_null_literal_and_empty(loader, tmp_path):
    # L3: empty string and the literal "null" both decode to NULL
    p = write(tmp_path, "nulls.csv", '1,null,,1990-01-01\n2,bob,5.5,null\n')
    res = loader.load(p, COLS, LoadOptions(null_literal="null"))
    rows = {r.id: r for r in res.df.collect()}
    assert rows[1].name is None and rows[1].amount is None
    assert rows[2].born is None


def test_sentinel_substitution(loader, tmp_path):
    # L2: bad int/date values replaced by DBLoader sentinels (-28, 0001-01-01)
    p = write(tmp_path, "bad.csv", "1,ok,3.5,1990-01-01\nxx,bad,oops,baddate\n")
    res = loader.load(p, COLS, LoadOptions(on_error="substitute"))
    assert res.rows_loaded == 2
    bad = [r for r in res.df.collect() if r.name == "bad"][0]
    assert bad.id == -28
    assert abs(bad.amount + 28.0) < 1e-9
    assert str(bad.born) == "0001-01-01"


def test_discard_policy_and_reject_value(loader, tmp_path):
    p = write(tmp_path, "bad2.csv", "1,ok,3.5,1990-01-01\nxx,bad,oops,baddate\n")
    res = loader.load(p, COLS, LoadOptions(on_error="discard", reject_value=5))
    assert res.rows_loaded == 1 and res.rows_rejected == 1
    # S3: REJECT_VALUE exceeded → whole load fails (1 tolerated, 2 bad)
    p2 = write(tmp_path, "bad2b.csv", "xx,b1,oops,x\nyy,b2,oops,y\n1,ok,1.0,1990-01-01\n")
    with pytest.raises(ValueError, match="REJECT_VALUE"):
        loader.load(p2, COLS, LoadOptions(on_error="discard", reject_value=1))


def test_reject_value_zero_fails_on_first_reject(loader, tmp_path):
    """S3: REJECT_VALUE = 0 is FAILFAST — one rejected row fails the load;
    leaving reject_value unset (None) means no cap."""
    p = write(tmp_path, "bad0.csv", "1,ok,3.5,1990-01-01\nxx,bad,oops,baddate\n")
    with pytest.raises(ValueError, match="REJECT_VALUE=0"):
        loader.load(p, COLS, LoadOptions(on_error="discard", reject_value=0))
    res = loader.load(p, COLS, LoadOptions(on_error="discard"))
    assert res.rows_loaded == 1 and res.rows_rejected == 1


#: one good line, a short line, a bad value and a long line: the counts each
#: policy must report whichever columns a query of the result reads
SHAPES = "1,a,2.5\n2,b\n3,c,x\n4,d,1.0,extra\n"
SHAPE_COLS = [
    ColumnSpec("id", "int"),
    ColumnSpec("name", "string"),
    ColumnSpec("v", "double"),
]


@pytest.mark.parametrize(
    "on_error, loaded, rejected",
    [("discard", 1, 3), ("substitute", 2, 2), ("fail", None, 3)],
)
def test_short_and_long_rows_counted_whatever_the_projection(
    loader, tmp_path, on_error, loaded, rejected
):
    """Short and long lines are malformed under every policy, whether or
    not a query reads the string column: the audit, ``count()`` (which
    reads no data column) and ``collect()`` agree."""
    p = write(tmp_path, "shapes.csv", SHAPES)
    opts = LoadOptions(on_error=on_error)
    if on_error == "fail":
        with pytest.raises(ValueError, match=f"{rejected} malformed rows"):
            loader.load(p, SHAPE_COLS, opts)
        return
    res = loader.load(p, SHAPE_COLS, opts)
    assert (res.rows_loaded, res.rows_rejected) == (loaded, rejected)
    assert res.df.count() == loaded
    assert len(res.df.collect()) == loaded
    assert res.df.select("id").count() == loaded


def test_fail_policy(loader, tmp_path):
    p = write(tmp_path, "bad3.csv", "xx,bad,oops,baddate\n")
    with pytest.raises(ValueError, match="malformed"):
        loader.load(p, COLS, LoadOptions(on_error="fail"))


def test_soh_separator_and_gzip(loader, tmp_path):
    # S2: hex 0x01 field terminator + gzip (GenerateLoadScript-V1.sql:16-17)
    text = "1\x01alice\x0110.5\x011990-01-01\n"
    p = write(tmp_path, "soh.csv.gz", text, compress=True)
    res = loader.load(p, COLS, LoadOptions(sep="\x01", compression="gzip"))
    assert res.rows_loaded == 1
    assert res.df.collect()[0].name == "alice"


def test_embedded_escaped_quotes(loader, tmp_path):
    # README.md:17-25 torture case: quoted field with escaped quote
    p = write(tmp_path, "quotes.csv", '1,"al\\"ce",1.0,1990-01-01\n')
    res = loader.load(p, COLS)
    assert res.df.collect()[0].name == 'al"ce'


def test_control_char_newline_restore(loader, tmp_path):
    # L4: char(31) placeholder restored to \n (GenerateLoadScript-V1.sql:82)
    p = write(tmp_path, "ctrl.csv", "1,li\x1fne,1.0,1990-01-01\n")
    res = loader.load(p, COLS, LoadOptions(restore_newlines=True))
    assert res.df.collect()[0].name == "li\nne"


def test_varchar_truncation_and_not_null_default(loader, tmp_path):
    # L1 length enforcement + L7 NOT NULL typed default
    p = write(tmp_path, "trunc.csv", ",averyverylongname,1.0,1990-01-01\n")
    res = loader.load(p, COLS)
    row = res.df.collect()[0]
    assert row.id == 0  # NOT NULL default
    assert row.name == "averyveryl"  # truncated to 10


def test_too_few_columns_is_corrupt(loader, tmp_path):
    # L5: short rows → PERMISSIVE corrupt-record handling, not an abort
    p = write(tmp_path, "short.csv", "1,alice,1.0,1990-01-01\n2,bob\n")
    res = loader.load(p, COLS, LoadOptions(on_error="discard", reject_value=5))
    assert res.rows_loaded >= 1


def test_audit_log(loader, tmp_path):
    p = write(tmp_path, "audit.csv", "1,a,1.0,1990-01-01\n")
    loader.load(p, COLS, table="stage.audit_target")
    entry = loader.audit_log[-1]
    assert entry["table"] == "stage.audit_target"
    assert entry["rows_loaded"] == 1 and entry["elapsed_sec"] >= 0


def test_extract_lines(spark, tmp_path):
    from sql_data_warehouse_samples_spark.sources.extract import extract_lines

    f = tmp_path / "big.txt"
    f.write_text("".join(f"line-{i}\n" for i in range(100)))
    rows = extract_lines(spark, str(f), 42, 3).orderBy("line_no").collect()
    assert [(r.line_no, r.line) for r in rows] == [
        (42, "line-42"), (43, "line-43"), (44, "line-44")
    ]


def test_engine_load_csv_end_to_end(spark, tmp_path):
    """EP2 pipeline: csv file → staged clean load → hash-distributed table."""
    from sql_data_warehouse_samples_spark.catalog import hash_layout
    from sql_data_warehouse_samples_spark.engine import Engine
    from sql_data_warehouse_samples_spark.sources.csv_loader import (
        ColumnSpec,
        LoadOptions,
    )

    f = tmp_path / "sales.csv"
    f.write_text("1|2024-01-02|19.99\n2|2024-01-03|bad\n3|2024-01-04|5.00\n")
    eng = Engine(spark)
    eng.create_schema("loadtest")
    try:
        res = eng.load_csv(
            str(f),
            "loadtest.sales",
            [
                ColumnSpec("sale_id", "bigint", nullable=False),
                ColumnSpec("sale_date", "date", nullable=False),
                ColumnSpec("amount", "decimal(18,2)", nullable=False),
            ],
            LoadOptions(sep="|", on_error="substitute"),
            layout=hash_layout("sale_id"),
            mode="overwrite",
        )
        assert res.rows_loaded == 3
        t = eng.table("loadtest.sales")
        assert t.count() == 3
        assert eng.catalog.get_layout("loadtest.sales").distribution == "hash"
        # the malformed decimal got the sentinel, not a crash
        vals = {r.sale_id: str(r.amount) for r in t.collect()}
        assert vals[1] == "19.99" and vals[3] == "5.00"
    finally:
        eng.catalog.drop_schema("loadtest", cascade=True)


def test_polybase_external_ddl_ctas_end_to_end(spark, tmp_path):
    """The reference's six-step external CTAS load (CTASLoad-Example.sql:
    1-62) runs near-verbatim through Engine.run_script(dialect='tsql')."""
    from sql_data_warehouse_samples_spark.engine import Engine

    data_dir = tmp_path / "lake" / "data" / "test"
    data_dir.mkdir(parents=True)
    (data_dir / "accounts.csv").write_text(
        '1,100,"Acme, Inc.",2024-01-02 03:04:05\n'
        "2,200,Globex,2024-02-03 04:05:06\n"
        "3,100,Initech,2024-03-04 05:06:07\n"
    )
    eng = Engine(spark)
    eng.create_schema("pocdm")
    try:
        script = [
            "CREATE MASTER KEY ENCRYPTION BY PASSWORD = 'MyUltraSecurePassword!12345!';",
            "CREATE DATABASE SCOPED CREDENTIAL AzureCredential "
            "WITH IDENTITY = 'SHARED ACCESS SIGNATURE', SECRET = 'your key here';",
            f"CREATE EXTERNAL DATA SOURCE AzureStorage "
            f"WITH (TYPE = HADOOP, LOCATION = '{tmp_path / 'lake'}', CREDENTIAL = AzureCredential);",
            "CREATE EXTERNAL FILE FORMAT TextFileFormat "
            "WITH (FORMAT_TYPE = DELIMITEDTEXT, FORMAT_OPTIONS "
            "(FIELD_TERMINATOR = ',', STRING_DELIMITER = '\"', USE_TYPE_DEFAULT = FALSE));",
            "CREATE EXTERNAL TABLE [ext_ACCOUNT_FACT] ("
            "[ACCT_PK_ID] bigint NOT NULL, [PERSON_PK_ID] bigint NOT NULL, "
            "[ACCT_NAME] varchar(50) NULL, [START_TMSP] datetime NULL) "
            "WITH (LOCATION='/data/test/', DATA_SOURCE = AzureStorage, "
            "FILE_FORMAT = TextFileFormat, REJECT_TYPE = VALUE, REJECT_VALUE = 0);",
            "CREATE TABLE [pocdm].[ACCOUNT_FACT] "
            "WITH (DISTRIBUTION = HASH([ACCT_PK_ID])) "
            "AS SELECT * FROM ext_ACCOUNT_FACT "
            "OPTION (LABEL = 'CTAS : Load ACCOUNT_FACT');",
        ]
        eng.run_script(script, dialect="tsql")

        t = eng.table("pocdm.ACCOUNT_FACT")
        assert t.count() == 3
        rows = {r.ACCT_PK_ID: r for r in t.collect()}
        assert rows[1].ACCT_NAME == "Acme, Inc."  # quoted delimiter honored
        assert str(rows[2].START_TMSP).startswith("2024-02-03 04:05:06")
        assert eng.catalog.get_layout("pocdm.ACCOUNT_FACT").distribution == "hash"
        assert (
            eng.catalog.get_layout("pocdm.ACCOUNT_FACT").distribution_column
            == "ACCT_PK_ID"
        )
        # the CTAS request carries its LABEL in the request log
        labels = {r.label for r in eng.exec_requests().collect()}
        assert "CTAS : Load ACCOUNT_FACT" in labels
        # secrets are never retained
        assert eng.external.credentials["AzureCredential"].has_secret
        assert not hasattr(eng.external.credentials["AzureCredential"], "secret")
        # sys.external_tables-style listing
        ext = eng.external.describe().collect()
        assert ext[0].table_name == "ext_ACCOUNT_FACT" and ext[0].n_columns == 4
        assert ext[0].reject_value == 0  # explicit REJECT_VALUE = 0 kept
        # external-object catalog views registered with the corpus
        eng.register_monitoring_views()
        assert eng.spark.sql(
            "SELECT * FROM meta_external_data_sources"
        ).collect()[0].name == "AzureStorage"
        ff = eng.spark.sql("SELECT * FROM meta_external_file_formats").collect()[0]
        assert ff.field_terminator == "," and not ff.use_type_default
        cred = eng.spark.sql("SELECT * FROM meta_credentials").collect()[0]
        assert cred.name == "AzureCredential" and cred.has_secret
        assert "secret" not in {f.name.lower() for f in
                                eng.spark.table("meta_credentials").schema.fields}
    finally:
        eng.catalog.drop_schema("pocdm", cascade=True)


# --- JSONL loader (sources/jsonl.py) ---------------------------------------


@pytest.fixture()
def jloader(spark):
    from sql_data_warehouse_samples_spark.sources.jsonl import JsonlLoader

    return JsonlLoader(spark)


JDOCS = (
    '{"id": 1, "name": "alice", "amount": 10.5, "born": "1990-01-01"}\n'
    '{"id": 2, "name": "bob", "amount": 20.25, "born": "1985-06-15"}\n'
)


def test_jsonl_clean_load(jloader, tmp_path):
    p = write(tmp_path, "ok.jsonl", JDOCS)
    res = jloader.load(p, COLS)
    assert res.rows_loaded == 2 and res.rows_rejected == 0
    rows = {r.id: r for r in res.df.collect()}
    assert rows[1].name == "alice" and float(rows[2].amount) == 20.25
    assert str(rows[1].born) == "1990-01-01"


def test_jsonl_missing_key_is_null_not_error(jloader, tmp_path):
    # schema evolution: older shards lack 'amount'; NOT NULL id intact
    p = write(tmp_path, "evolve.jsonl", '{"id": 3, "name": "carol"}\n' + JDOCS)
    res = jloader.load(p, COLS)
    assert res.rows_loaded == 3 and res.rows_rejected == 0
    r3 = [r for r in res.df.collect() if r.id == 3][0]
    assert r3.amount is None and r3.born is None


def test_jsonl_corrupt_line_policies(jloader, tmp_path):
    bad = JDOCS + "{this is not json\n" + '{"id": "NaN-ish", "name": "d"}\n'
    p = write(tmp_path, "bad.jsonl", bad)
    # substitute: corrupt line dropped, bad typed value -> sentinel
    res = jloader.load(p, COLS)
    assert res.rows_loaded == 3
    subbed = [r for r in res.df.collect() if r.name == "d"][0]
    assert subbed.id == -28  # DBLoader sentinel
    # discard: both the corrupt line and the bad-cast row are rejected
    res2 = jloader.load(p, COLS, LoadOptions(on_error="discard"))
    assert res2.rows_loaded == 2 and res2.rows_rejected == 2
    # fail: first malformed row kills the load
    with pytest.raises(ValueError, match="malformed"):
        jloader.load(p, COLS, LoadOptions(on_error="fail"))
    # reject_value: tolerance of 1 is exceeded by 2 rejects
    with pytest.raises(ValueError, match="REJECT_VALUE"):
        jloader.load(p, COLS, LoadOptions(on_error="discard", reject_value=1))


def test_jsonl_gzip_and_extra_keys(jloader, tmp_path):
    extra = (
        '{"id": 9, "name": "zed", "amount": 1.0, "born": "2000-02-02",'
        ' "lang": "en", "meta": {"src": "web"}}\n'
    )
    p = write(tmp_path, "docs.jsonl.gz", JDOCS + extra, compress=True)
    res = jloader.load(p, COLS, LoadOptions(compression="gzip"))
    assert res.rows_loaded == 3  # unknown keys ignored, nested object too
    assert {r.id for r in res.df.collect()} == {1, 2, 9}


def test_jsonl_varchar_truncation_and_not_null_default(jloader, tmp_path):
    p = write(
        tmp_path,
        "trunc.jsonl",
        '{"id": 1, "name": "a-very-long-name-indeed", "amount": 2.5}\n'
        '{"name": "noid"}\n',
    )
    res = jloader.load(p, COLS)
    rows = sorted(res.df.collect(), key=lambda r: r.id)
    assert rows[1].name == "a-very-lon"  # varchar(10) truncation (L1)
    assert rows[0].id == 0  # NOT NULL default (L7) for the missing id


# --- corpus sink (sources/corpus_sink.py) ----------------------------------


def test_write_corpus_partitioned_bounded_shards(spark, tmp_path):
    """write_corpus: lang-partitioned layout, shard files bounded by
    max_rows_per_file, reads partition-prune, roundtrip lossless."""
    import glob

    from sql_data_warehouse_samples_spark.sources.corpus_sink import (
        read_corpus,
        write_corpus,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "corpus")
    write_corpus(
        docs, path, partition_by=["lang"],
        max_rows_per_file=50, shards_per_partition=2,
    )
    # hive layout per language
    langs = {p.rsplit("=", 1)[1] for p in glob.glob(f"{path}/lang=*")}
    assert langs == {r.lang for r in docs.select("lang").distinct().collect()}
    # every shard respects the row bound
    for f in glob.glob(f"{path}/lang=*/*.parquet"):
        assert spark.read.parquet(f).count() <= 50
    # roundtrip is lossless
    assert read_corpus(spark, path).count() == docs.count()
    # partition filter prunes to one language
    en = read_corpus(spark, path, lang="en")
    plan = en._jdf.queryExecution().executedPlan().toString()
    assert en.count() == docs.filter("lang = 'en'").count()
    assert "PartitionFilters: [isnotnull(lang" in plan


def test_corpus_sink_orc_roundtrip(spark, tmp_path):
    """ORC as the alternate columnar corpus format: partitioned write,
    pruned read, identical rows."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.sources.corpus_sink import (
        read_corpus,
        write_corpus,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    path = str(tmp_path / "corpus_orc")
    write_corpus(d, path, partition_by=["source"], format="orc")
    back = read_corpus(spark, path, format="orc", source="src0")
    want = d.filter(F.col("source") == "src0")
    assert back.count() == want.count() > 0
    got_ids = {r["doc_id"] for r in back.collect()}
    assert got_ids == {r["doc_id"] for r in want.collect()}
    # partition pruning visible in the plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_corpus(d, path, format="avro")


def test_generate_load_script_v2_container_per_table(spark, tmp_path):
    """GenerateLoadScript-V2 parity (samples/scripts/data-load/
    GenerateLoadScript-V2.sql): the CONTAINER-PER-TABLE variant — per
    table the script drops + recreates the external data source pointing
    at that table's own container (V2:80-84, LOCATION wasbs://<table>@…),
    stages every column as varchar via an external table at LOCATION
    './' with NO string delimiter (V2:97-117), then CTAS-casts with
    manual lead/tail-quote stripping, '"null"' literals, \\" unescape and
    char(31)->LF restore (V2:140-152), and drops the external objects
    before moving to the next table (V2:168-173)."""
    import gzip

    from sql_data_warehouse_samples_spark.engine import Engine

    soh = "\x01"
    containers = {
        "acct": (
            f'"1"{soh}"Acme \\"X\\" Inc"{soh}"null"\n'
            f'"2"{soh}"Globex, Ltd"{soh}"20.5"\n'
        ),
        "person": f'"7"{soh}"line one{chr(31)}line two"{soh}"1.25"\n',
    }
    for tbl, data in containers.items():
        d = tmp_path / f"container-{tbl}"
        d.mkdir()
        with gzip.open(d / f"{tbl}.txt.gz", "wt") as f:
            f.write(data)

    eng = Engine(spark)
    eng.create_schema("targ_poc_dm")
    try:
        eng.run_script(
            [
                "CREATE DATABASE SCOPED CREDENTIAL AzureStorageCredential "
                "WITH IDENTITY = 'SHARED ACCESS SIGNATURE', SECRET = 'your key here...==';",
                # V2:15-17 — SOH terminator, gzip, NO STRING_DELIMITER
                "CREATE EXTERNAL FILE FORMAT TextFileFormat WITH ("
                "FORMAT_TYPE = DELIMITEDTEXT, FORMAT_OPTIONS (FIELD_TERMINATOR = '0x01', "
                "USE_TYPE_DEFAULT = FALSE), "
                "DATA_COMPRESSION = 'org.apache.hadoop.io.compress.GzipCodec');",
            ],
            dialect="tsql",
        )
        for tbl in containers:
            eng.run_script(
                [
                    # per-table source recreation (V2:70-84)
                    f"CREATE EXTERNAL DATA SOURCE AzureStorage WITH (TYPE = HADOOP, "
                    f"LOCATION = '{tmp_path / ('container-' + tbl)}', "
                    f"CREDENTIAL = AzureStorageCredential);",
                    # all-varchar staging shape (V2:97-117)
                    f"CREATE EXTERNAL TABLE [ASB].[{tbl}] ("
                    "[id] varchar(14) NULL, [name] varchar(70) NULL, [bal] varchar(35) NULL) "
                    "WITH ( LOCATION='./', DATA_SOURCE = AzureStorage, "
                    "FILE_FORMAT = TextFileFormat, REJECT_TYPE = VALUE, REJECT_VALUE = 0 );",
                    # CTAS cast loop shape (V2:139-163)
                    f"CREATE TABLE [targ_poc_dm].[{tbl}] WITH (DISTRIBUTION = ROUND_ROBIN) "
                    "AS SELECT "
                    "ISNULL((case when [id] = '\"null\"' then null else "
                    "cast(substring([id], 2, LEN([id])-2) as bigint) end), 0) as 'id', "
                    "case when [name] = '\"null\"' then null else "
                    "cast(replace(replace(substring([name], 2, LEN([name])-2), "
                    "'\\\"', '\"'), char(31), char(10)) as varchar(50)) end as 'name', "
                    "case when [bal] = '\"null\"' then null else "
                    "cast(substring([bal], 2, LEN([bal])-2) as decimal(18,2)) end as 'bal' "
                    f"FROM [ASB].[{tbl}] "
                    f"OPTION (LABEL = 'CTAS : Load [targ_poc_dm].[{tbl}]');",
                    f"DROP EXTERNAL TABLE [ASB].[{tbl}];",
                    "DROP EXTERNAL DATA SOURCE AzureStorage;",
                ],
                dialect="tsql",
            )
        acct = {r.id: r for r in eng.table("targ_poc_dm.acct").collect()}
        assert acct[1].name == 'Acme "X" Inc'     # \" unescaped
        assert acct[1].bal is None                # "null" literal
        assert acct[2].name == "Globex, Ltd"      # SOH keeps embedded comma
        assert float(acct[2].bal) == 20.5
        person = eng.table("targ_poc_dm.person").collect()[0]
        assert person.name == "line one\nline two"  # char(31) -> LF
        assert float(person.bal) == 1.25
        # audit shape (V2:176-178): COUNT_BIG(*) per loaded table
        n = eng.tsql(
            "SELECT COUNT_BIG(*) AS 'Rows' FROM targ_poc_dm.acct"
        ).collect()[0][0]
        assert n == 2
    finally:
        eng.catalog.drop_schema("targ_poc_dm", cascade=True)
