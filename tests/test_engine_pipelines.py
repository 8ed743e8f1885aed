"""End-to-end YAML pipeline tests.

Mirrors the reference's manual smoke workflows (README.md:34-124 in
ThatNinjaGuy/universal-data-connector): drop files in an input dir, run
the pipeline, assert on the output dir — but automated, and exercising
the same fixture shapes (projects.csv / tasks.csv / test.txt with the
'important' filter, data/processed/* residual evidence).
"""

from __future__ import annotations

import os
import textwrap

import pytest
import yaml

from universal_data_connector_spark.config import (
    avro_schema_to_struct,
    load_config,
    parse_config,
)
from universal_data_connector_spark.engine import build, run
from universal_data_connector_spark.manager import PipelineManager

PROJECTS_CSV = textwrap.dedent("""\
    id,project,status,assignee,deadline
    1,Apollo,important,alice,2026-01-01
    2,Borealis,normal,bob,2026-02-01
    3,Cascade,important and urgent,carol,2026-03-01
    """)

TASKS_CSV = textwrap.dedent("""\
    id,name,status,priority
    10,deploy,done,high
    11,review,open,low
    """)

TEXT_IMPORTANT = "this line is important\nand so is this file\n"
TEXT_PLAIN = "nothing to see here\n"


def _write(path: str, content: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(content)
    return path


@pytest.fixture
def io_dirs(tmp_path):
    inp, out = tmp_path / "input", tmp_path / "output"
    inp.mkdir(), out.mkdir()
    return str(inp), str(out)


def _pipeline(name, src_props, sink_props, transformations=()):
    return parse_config({"pipelines": [{
        "name": name,
        "source": {"type": "file", "properties": src_props},
        "transformations": [dict(t) for t in transformations],
        "sink": {"type": "file", "properties": sink_props},
    }]}).pipelines[0]


def test_text_to_text_passthrough(spark, io_dirs):
    """README.md:34-50 workflow: text files copied through unchanged."""
    inp, out = io_dirs
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    _write(f"{inp}/b.txt", TEXT_PLAIN)
    cfg = _pipeline("text-processor", {"path": inp, "pattern": "*.txt"},
                    {"path": out, "extension": ".txt"})
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt"]
    assert open(f"{out}/a.txt").read() == TEXT_IMPORTANT


def test_batch_archive_moves_consumed_files(spark, io_dirs, tmp_path):
    """archiveDir in BATCH mode (reference FileSourceContext.java:113-125
    moves every consumed file to data/processed/): after a successful
    run the inputs live in the archive dir, and a second run of the
    same pipeline reads zero files."""
    inp, out = io_dirs
    processed = str(tmp_path / "processed")
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    _write(f"{inp}/b.txt", TEXT_PLAIN)
    cfg = _pipeline("archiving", {"path": inp, "pattern": "*.txt",
                                  "archiveDir": processed},
                    {"path": out, "extension": ".txt"})
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt"]
    assert sorted(os.listdir(inp)) == []                      # moved out
    assert sorted(os.listdir(processed)) == ["a.txt", "b.txt"]
    # re-run: nothing left to consume, output unchanged
    out2 = str(tmp_path / "out2")
    os.makedirs(out2)
    cfg2 = _pipeline("archiving-rerun", {"path": inp, "pattern": "*.txt",
                                         "archiveDir": processed},
                     {"path": out2, "extension": ".txt"})
    run(spark, cfg2)
    assert os.listdir(out2) == []


def test_batch_memory_sink_reads_input_before_archive(spark, tmp_path):
    """A batch memory sink computes its input before the post-sink
    steps run: after the archive moved the consumed file, the sink's
    view still returns its rows."""
    inp, arch = tmp_path / "in", tmp_path / "arch"
    _write(f"{inp}/a.txt", "alpha")
    cfg = parse_config({"pipelines": [{
        "name": "memory-archive",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.txt",
                                  "archiveDir": str(arch)}},
        "transformations": [],
        "sink": {"type": "memory", "properties": {"queryName": "mem_arch"}},
    }]}).pipelines[0]
    run(spark, cfg)
    assert os.listdir(arch) == ["a.txt"]
    assert [r.content for r in spark.table("mem_arch").collect()] == ["alpha"]


def test_filter_contains_no_column_drops_files(spark, io_dirs):
    """T1 without a column: whole-item substring match
    (PipelineBuilder.java:83)."""
    inp, out = io_dirs
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    _write(f"{inp}/b.txt", TEXT_PLAIN)
    cfg = _pipeline("filtered", {"path": inp, "pattern": "*.txt"},
                    {"path": out, "extension": ".txt"},
                    [{"type": "filter", "properties": {"condition": "important"}}])
    run(spark, cfg)
    assert os.listdir(out) == ["a.txt"]


def test_csv_to_csv_with_extension_swap(spark, io_dirs):
    inp, out = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)
    cfg = _pipeline("csv-to-csv", {"path": inp, "pattern": "*.csv"},
                    {"path": out, "extension": ".out"})
    run(spark, cfg)
    assert os.listdir(out) == ["projects.out"]
    assert open(f"{out}/projects.out").read() == PROJECTS_CSV


def test_filter_column_file_granularity(spark, io_dirs):
    """T1 with a column: keep the WHOLE file iff any row's `status`
    contains 'important' (PipelineBuilder.java:42-81)."""
    inp, out = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)   # has important rows
    _write(f"{inp}/tasks.csv", TASKS_CSV)         # has not
    cfg = _pipeline("filtered", {"path": inp, "pattern": "*.csv"},
                    {"path": out, "extension": ".csv"},
                    [{"type": "filter",
                      "properties": {"column": "status", "condition": "important"}}])
    run(spark, cfg)
    assert os.listdir(out) == ["projects.csv"]
    assert open(f"{out}/projects.csv").read() == PROJECTS_CSV


def test_filter_column_row_granularity(spark, io_dirs):
    """granularity: row — the scalable upgrade (SURVEY.md §7.4.1):
    only matching data rows survive, header preserved."""
    inp, out = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)
    cfg = _pipeline("filtered", {"path": inp, "pattern": "*.csv"},
                    {"path": out, "extension": ".csv"},
                    [{"type": "filter",
                      "properties": {"column": "status", "condition": "important",
                                     "granularity": "row"}}])
    run(spark, cfg)
    text = open(f"{out}/projects.csv").read()
    lines = text.strip().split("\n")
    assert lines[0] == "id,project,status,assignee,deadline"
    assert [ln.split(",")[0] for ln in lines[1:]] == ["1", "3"]


def _union_form(df, props):
    """The file-mode column filter as a union of its CSV and non-CSV
    halves, each filtered separately: the shape that scanned the
    source twice, kept here as the reference the one projection must
    equal."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.engine import _filter_transform

    is_csv = F.col("file_type") == "CSV"
    return (_filter_transform(df.filter(is_csv), props)
            .unionByName(_filter_transform(df.filter(~is_csv), props)))


def _rows(df):
    return sorted(tuple(bytes(v) if isinstance(v, bytearray) else v
                        for v in r) for r in df.collect())


@pytest.mark.parametrize("granularity", ["file", "row"])
def test_file_mode_column_filter_is_one_projection(spark, io_dirs,
                                                   granularity):
    """The file-mode column filter over mixed CSV and TXT files is one
    projection over one scan (no Union, one text file scan), and its
    rows equal the two-branch union's: a CSV file by its column (whole
    file, or rebuilt from its matching rows), any other file by a
    whole-content match. The binary directory source keeps its binary
    content type."""
    from universal_data_connector_spark.engine import _filter_transform
    from universal_data_connector_spark.sources.files import (
        directory_source,
        file_source,
    )

    inp, _ = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)
    _write(f"{inp}/tasks.csv", TASKS_CSV)
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    _write(f"{inp}/b.txt", TEXT_PLAIN)
    props = {"column": "status", "condition": "important",
             "granularity": granularity}

    text = file_source(spark, {"path": inp})
    out = _filter_transform(text, props)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in out._jdf.queryExecution().optimizedPlan() \
        .toString()
    assert plan.count("FileScan text") == 1, plan
    got = {(os.path.basename(r.source_file), r.content)
           for r in out.collect()}
    csv_kept = (PROJECTS_CSV if granularity == "file" else
                "id,project,status,assignee,deadline\n"
                "1,Apollo,important,alice,2026-01-01\n"
                "3,Cascade,important and urgent,carol,2026-03-01")
    assert got == {("projects.csv", csv_kept), ("a.txt", TEXT_IMPORTANT)}
    assert _rows(out) == _rows(_union_form(text, props))

    binary = directory_source(spark, {"path": inp})
    out = _filter_transform(binary, props)
    assert dict(out.dtypes)["content"] == "binary"
    assert _rows(out) == _rows(_union_form(binary, props))
    assert len(_rows(out)) == 2


def test_map_prefix_suffix(spark, io_dirs):
    inp, out = io_dirs
    _write(f"{inp}/a.txt", "hello")
    cfg = _pipeline("mapped", {"path": inp, "pattern": "*.txt"},
                    {"path": out, "extension": ".txt"},
                    [{"type": "map", "properties": {"prefix": ">> ", "suffix": " <<"}}])
    run(spark, cfg)
    assert open(f"{out}/a.txt").read() == ">> hello <<\n"


def test_unknown_transformation_passes_through(spark, io_dirs):
    """PipelineBuilder.java:135-138: warn + identity."""
    inp, out = io_dirs
    _write(f"{inp}/a.txt", TEXT_PLAIN)
    cfg = _pipeline("unknown-t", {"path": inp, "pattern": "*.txt"},
                    {"path": out, "extension": ".txt"},
                    [{"type": "quantum-entangle", "properties": {}}])
    run(spark, cfg)
    assert os.listdir(out) == ["a.txt"]


AVRO_SCHEMA = """
{"type": "record", "name": "CsvRecord", "namespace": "com.example",
 "fields": [
   {"name": "id", "type": "int"},
   {"name": "project", "type": "string"},
   {"name": "status", "type": "string"},
   {"name": "assignee", "type": ["null", "string"]},
   {"name": "deadline", "type": "string"}]}
"""


def test_csv_to_parquet_with_schema(spark, io_dirs):
    """The flagship reference pipeline (pipeline-config-example.yaml:
    27-64): CSV -> filter -> typed Parquet."""
    inp, out = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)
    cfg = _pipeline("csv-to-parquet", {"path": inp, "pattern": "*.csv"},
                    {"path": f"{out}/pq", "format": "parquet", "schema": AVRO_SCHEMA},
                    [{"type": "filter",
                      "properties": {"column": "status", "condition": "important"}}])
    run(spark, cfg)
    df = spark.read.parquet(f"{out}/pq")
    assert df.schema["id"].dataType.typeName() == "integer"
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}  # file granularity keeps the whole file
    assert rows[1].project == "Apollo"


def test_parquet_per_source_file_naming(spark, io_dirs):
    """perSourceFile: reference output naming (ParquetSinkContext.java:
    356-366) — one snappy parquet file per input CSV, named
    <source-stem>_<yyyyMMdd_HHmmss>.parquet, typed by the Avro schema."""
    import re

    inp, out = io_dirs
    _write(f"{inp}/projects.csv", PROJECTS_CSV)
    _write(f"{inp}/more.csv", PROJECTS_CSV.replace("Apollo", "Zephyr"))
    cfg = _pipeline("pq-per-source", {"path": inp, "pattern": "*.csv"},
                    {"path": f"{out}/pq", "format": "parquet",
                     "schema": AVRO_SCHEMA, "perSourceFile": "true"})
    run(spark, cfg)
    names = sorted(os.listdir(f"{out}/pq"))
    assert len(names) == 2
    assert all(re.fullmatch(r"(projects|more)_\d{8}_\d{6}\.parquet", n)
               for n in names), names
    df = spark.read.parquet(f"{out}/pq")
    assert df.schema["id"].dataType.typeName() == "integer"
    assert df.count() == 6
    assert {r.project for r in df.collect()} >= {"Apollo", "Zephyr"}


def test_avro_schema_translation():
    st = avro_schema_to_struct(AVRO_SCHEMA)
    assert [f.name for f in st.fields] == ["id", "project", "status", "assignee", "deadline"]
    assert st["id"].dataType.typeName() == "integer"
    with pytest.raises(ValueError):
        avro_schema_to_struct('{"type": "record", "fields": [{"name": "x", "type": "bytes"}]}')


def test_sql_transformation(spark, io_dirs):
    """Extended surface: full SQL over the in-flight frame."""
    inp, out = io_dirs
    _write(f"{inp}/a.txt", "alpha")
    _write(f"{inp}/b.txt", "beta")
    cfg = _pipeline("sqlish", {"path": inp, "pattern": "*.txt"},
                    {"path": out, "extension": ".txt"},
                    [{"type": "sql", "properties": {
                        "query": "SELECT source_file, file_type, upper(content) AS content "
                                 "FROM _input"}}])
    run(spark, cfg)
    assert open(f"{out}/a.txt").read().strip() == "ALPHA"


def test_yaml_roundtrip_and_validation(tmp_path):
    doc = {"pipelines": [
        {"name": "p1",
         "source": {"type": "file", "properties": {"path": "/x"}},
         "sink": {"type": "file", "properties": {"path": "/y"}}},
        {"name": "", "source": {"type": "file"}, "sink": {"type": "file"}},
    ]}
    path = tmp_path / "cfg.yaml"
    path.write_text(yaml.safe_dump(doc))
    cfg = load_config(str(path))
    assert len(cfg.pipelines) == 2
    cfg.pipelines[0].validate()
    with pytest.raises(ValueError):
        cfg.pipelines[1].validate()


def test_manager_lifecycle(spark, io_dirs, tmp_path):
    """Control-plane ops over a real batch job (SURVEY.md §2A control
    plane table); one bad pipeline doesn't kill the rest
    (PipelineManager.java:44-50)."""
    inp, out = io_dirs
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    doc = {"pipelines": [
        {"name": "ok-pipe",
         "source": {"type": "file", "properties": {"path": inp, "pattern": "*.txt"}},
         "sink": {"type": "file", "properties": {"path": out, "extension": ".txt"}}},
        {"name": "bad-pipe",
         "source": {"type": "no-such-source", "properties": {}},
         "sink": {"type": "file", "properties": {"path": out}}},
    ]}
    path = tmp_path / "cfg.yaml"
    path.write_text(yaml.safe_dump(doc))

    mgr = PipelineManager(spark)
    started = mgr.start_all(str(path))
    assert len(started) == 1 and started[0].startswith("ok-pipe-")
    assert mgr.wait(timeout=120)
    jobs = mgr.jobs()
    assert jobs[0]["status"] == "COMPLETED"
    assert mgr.status() == {"runningCount": 0, "hasRunningPipelines": False}
    assert mgr.count() == 0
    assert not mgr.is_running("nonexistent")
    assert os.listdir(out) == ["a.txt"]


def test_record_mode_promotion_quirks(spark, io_dirs):
    """csv_blob_to_records: lenient casts, short-row drop, all-null-row
    drop, case-insensitive header binding, RFC-4180 quoted commas."""
    from universal_data_connector_spark.sources.records import csv_blob_to_records
    inp, _ = io_dirs
    csv = ('ID,Name,Salary\n'
           '1,"Smith, John","$75,000.00"\n'  # RFC-4180 quoted commas + currency
           '2,plain,1234.5\n'
           'x,,\n'                           # unparseable id -> default 0
           '3,short\n')                      # fewer cols than header -> drop
    _write(f"{inp}/emp.csv", csv)
    cfg = _pipeline("rm", {"path": inp, "pattern": "*.csv"}, {"path": "/dev/null"})
    df = build(spark, cfg)
    schema = avro_schema_to_struct(
        '{"type":"record","name":"E","fields":['
        '{"name":"id","type":"int"},{"name":"name","type":"string"},'
        '{"name":"salary","type":"double"}]}')
    out = csv_blob_to_records(df, schema).orderBy("__line_no").collect()
    ids = [r.id for r in out]
    assert ids == [1, 2, 0]  # short row dropped; 'x' row survives (name/salary default)
    assert out[0].name == "Smith, John"       # RFC-4180 quoted comma
    assert out[0].salary == 75000.0           # currency-tolerant double
    assert out[2].id == 0 and out[2].name == ""  # per-type defaults


def test_jdbc_source_to_parquet_pipeline(spark, io_dirs, tmp_path):
    """End-to-end jdbc -> parquet pipeline against embedded Derby:
    seed a table over JDBC, run a YAML-shaped pipeline whose source is
    a pass-through SQL query (reference S3 `query` property), assert
    real typed columns land in parquet — not the reference's
    stringified CSV chunks."""
    _, out = io_dirs
    db = str(tmp_path / "derbydb")
    url = f"jdbc:derby:{db};create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    seed = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 20.25), (3, "carol", 30.0)],
        "id bigint, name string, score double")
    (seed.coalesce(1).write.format("jdbc")
         .options(url=url, dbtable="people", driver=driver).mode("append").save())

    cfg = parse_config({"pipelines": [{
        "name": "jdbc-to-parquet",
        "source": {"type": "jdbc", "properties": {
            "jdbcUrl": url, "driver": driver,
            # Spark's JDBC writer creates quoted (case-exact) columns;
            # Derby therefore needs quoted identifiers in pass-through SQL
            "query": 'SELECT "id", "name", "score" FROM people WHERE "score" > 15',
            "oneTimeOperation": True,
        }},
        "sink": {"type": "file", "properties": {"path": out, "format": "parquet"}},
    }]}).pipelines[0]
    run(spark, cfg, streaming=False)

    got = {(r.id, r.name, float(r.score))
           for r in spark.read.parquet(out).select("id", "name", "score").collect()}
    assert got == {(2, "bob", 20.25), (3, "carol", 30.0)}


def test_batch_manifest_skips_consumed_without_archiving(
        spark, io_dirs, tmp_path):
    """manifestDir in BATCH mode (VERDICT r6 item 6): consumed files are
    logged — not moved — so a re-run over the SAME untouched source dir
    emits zero rows; files that arrive between runs are picked up."""
    inp, out = io_dirs
    manifest = str(tmp_path / "manifest")
    _write(f"{inp}/a.txt", TEXT_IMPORTANT)
    _write(f"{inp}/b.txt", TEXT_PLAIN)
    cfg = _pipeline("manifested", {"path": inp, "pattern": "*.txt",
                                   "manifestDir": manifest},
                    {"path": out, "extension": ".txt"})
    run(spark, cfg)
    assert sorted(os.listdir(out)) == ["a.txt", "b.txt"]
    assert sorted(os.listdir(inp)) == ["a.txt", "b.txt"]   # NOT moved
    logs = [f for f in os.listdir(manifest) if f.endswith(".log")]
    assert len(logs) == 1

    # second run, same source dir: manifest filters everything
    out2 = str(tmp_path / "out2")
    os.makedirs(out2)
    cfg2 = _pipeline("manifested-rerun", {"path": inp, "pattern": "*.txt",
                                          "manifestDir": manifest},
                     {"path": out2, "extension": ".txt"})
    run(spark, cfg2)
    assert os.listdir(out2) == []
    # dedupe: the rerun recorded no new entries
    logs = [f for f in os.listdir(manifest) if f.endswith(".log")]
    assert len(logs) == 1

    # a NEW file arriving later is consumed by the next run — and only it
    _write(f"{inp}/c.txt", "late arrival\n")
    out3 = str(tmp_path / "out3")
    os.makedirs(out3)
    cfg3 = _pipeline("manifested-late", {"path": inp, "pattern": "*.txt",
                                         "manifestDir": manifest},
                     {"path": out3, "extension": ".txt"})
    run(spark, cfg3)
    assert os.listdir(out3) == ["c.txt"]


def test_manifest_uri_canonicalization():
    """inputFiles() says file:///p, _metadata.file_path says file:/p —
    both must canonicalize to the same key."""
    from universal_data_connector_spark.sources.files import (
        canonical_file_uri,
    )

    assert (canonical_file_uri("file:///tmp/x.txt")
            == canonical_file_uri("file:/tmp/x.txt") == "file:/tmp/x.txt")
    assert canonical_file_uri("s3a://bucket/k.txt") == "s3a://bucket/k.txt"
    assert canonical_file_uri("/plain/path") == "/plain/path"


def _events_csv(rows):
    out = "event_id,user_id,ts,value\n"
    for r in rows:
        out += ",".join(map(str, r)) + "\n"
    return out


def test_upsert_sink_type_batch_yaml(spark, tmp_path):
    """The 'upsert' sink type keeps the newest row per key from a YAML
    pipeline — batch mode calls the same idempotent merge body as
    streaming directly (no scratch-stream round trip since r8)."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    _write(f"{inp}/a.csv", _events_csv([
        (1, 7, "2026-01-01 10:00:00", 1.0),
        (2, 7, "2026-01-01 11:00:00", 2.0),
        (3, 8, "2026-01-01 10:30:00", 5.0),
    ]))
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "latest-state",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv"}},
        "transformations": [
            {"type": "sql", "properties": {"query": """
                SELECT CAST(f[0] AS BIGINT) AS event_id,
                       CAST(f[1] AS BIGINT) AS user_id,
                       CAST(f[2] AS TIMESTAMP) AS ts,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4"""}},
        ],
        "sink": {"type": "upsert",
                 "properties": {"path": target, "keys": "user_id",
                                "orderColumn": "ts", "numBuckets": "4"}},
    }]}).pipelines[0]
    run(spark, cfg)
    state = {r.user_id: r.event_id
             for r in spark.read.parquet(target).collect()}
    assert state == {7: 2, 8: 3}


def test_agg_state_sink_type_batch_yaml(spark, tmp_path):
    """The 'agg_state' sink type maintains per-key (n, total) from a
    YAML pipeline."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    _write(f"{inp}/a.csv", _events_csv([
        (1, 7, "2026-01-01 10:00:00", 1.0),
        (2, 7, "2026-01-01 11:00:00", 2.0),
        (3, 8, "2026-01-01 10:30:00", 5.0),
    ]))
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "totals-state",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv"}},
        "transformations": [
            {"type": "sql", "properties": {"query": """
                SELECT CAST(f[1] AS BIGINT) AS user_id,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4"""}},
        ],
        "sink": {"type": "agg_state",
                 "properties": {"path": target, "keys": "user_id",
                                "valueColumn": "value",
                                "numBuckets": "4"}},
    }]}).pipelines[0]
    run(spark, cfg)
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (2, 3.0), 8: (1, 5.0)}


def test_agg_state_sink_type_batch_yaml_second_run_adds(spark, tmp_path):
    """A SECOND batch run of an agg_state YAML pipeline must apply its
    (new) increments — ADVICE r8: the old fresh-checkpoint wrapper
    silently dropped every run after the first for touched buckets.
    manifestDir scopes each run to the files it hasn't consumed, so
    the additive sink sees only new rows."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "totals-state-incr",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv",
                                  "manifestDir": str(tmp_path / "m")}},
        "transformations": [
            {"type": "sql", "properties": {"query": """
                SELECT CAST(f[1] AS BIGINT) AS user_id,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4"""}},
        ],
        "sink": {"type": "agg_state",
                 "properties": {"path": target, "keys": "user_id",
                                "valueColumn": "value",
                                "numBuckets": "4"}},
    }]}).pipelines[0]

    _write(f"{inp}/a.csv", _events_csv([
        (1, 7, "2026-01-01 10:00:00", 1.0),
        (2, 8, "2026-01-01 10:30:00", 5.0),
    ]))
    run(spark, cfg)
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (1, 1.0), 8: (1, 5.0)}

    # second run: only the new file's rows (manifest) must ADD
    _write(f"{inp}/b.csv", _events_csv([
        (3, 7, "2026-01-01 11:00:00", 10.0),
    ]))
    run(spark, cfg)
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (2, 11.0), 8: (1, 5.0)}

    # third run with nothing new: a no-op, not a drop or double-count
    run(spark, cfg)
    state = {r.user_id: (r.n, float(r.total))
             for r in spark.read.parquet(target).collect()}
    assert state == {7: (2, 11.0), 8: (1, 5.0)}


def test_upsert_sink_type_streaming_yaml(spark, tmp_path):
    """The 'upsert' sink type under a STREAMING file-source pipeline:
    the engine returns the query handle, AvailableNow drains the
    directory, and a later run on the SAME checkpoint consumes only
    the new file and merges it into existing state."""
    from universal_data_connector_spark.config import parse_config
    from universal_data_connector_spark.engine import run

    inp = tmp_path / "in"
    inp.mkdir()
    target = str(tmp_path / "state")
    cfg = parse_config({"pipelines": [{
        "name": "latest-stream",
        "source": {"type": "file",
                   "properties": {"path": str(inp), "pattern": "*.csv"}},
        "transformations": [
            {"type": "sql", "properties": {"query": """
                SELECT CAST(f[1] AS BIGINT) AS user_id,
                       f[2] AS ts,
                       CAST(f[3] AS DOUBLE) AS value
                FROM (SELECT split(line, ',') AS f FROM (
                        SELECT explode(slice(split(content, '\n'), 2,
                                             1000000)) AS line
                        FROM _input))
                WHERE size(f) >= 4"""}},
        ],
        "sink": {"type": "upsert",
                 "properties": {"path": target, "keys": "user_id",
                                "orderColumn": "ts",
                                "checkpointLocation": str(tmp_path / "ck"),
                                "numBuckets": "4"}},
    }]}).pipelines[0]

    _write(f"{inp}/a.csv", _events_csv([
        (1, 7, "2026-01-01 10:00:00", 1.0),
        (2, 7, "2026-01-01 11:00:00", 2.0),
        (3, 8, "2026-01-01 10:30:00", 5.0),
    ]))
    q = run(spark, cfg, streaming=True)
    q.awaitTermination()
    state = {r.user_id: r.ts for r in spark.read.parquet(target).collect()}
    assert state == {7: "2026-01-01 11:00:00", 8: "2026-01-01 10:30:00"}

    # a newer event for user 7 lands; same checkpoint -> only the new
    # file is consumed, merged on top of existing state
    _write(f"{inp}/b.csv", _events_csv([
        (4, 7, "2026-01-01 12:00:00", 9.0),
    ]))
    q = run(spark, cfg, streaming=True)
    q.awaitTermination()
    state = {r.user_id: r.ts for r in spark.read.parquet(target).collect()}
    assert state == {7: "2026-01-01 12:00:00", 8: "2026-01-01 10:30:00"}


def test_one_pipeline_run_for_both_runners():
    """engine.run and the manager's worker execute the same prepared
    run (engine.PipelineRun): no transform-to-sink state rides on a
    DataFrame, the batch sink sequence is called from one place and
    the manager calls none of its steps. Post-sink steps travel only
    through the run: no source hangs bookkeeping on its frame, no sink
    takes a hidden prop, and engine.py names no source property or
    sink type that owns a step."""
    import ast
    import pathlib

    import universal_data_connector_spark as pkg

    class Calls(ast.NodeVisitor):
        """callee name -> {(file, enclosing function)}."""

        def __init__(self, rel, found):
            self.rel, self.scope, self.found = rel, [""], found

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            name = getattr(node.func, "id", None) or \
                getattr(node.func, "attr", None)
            self.found.setdefault(name, set()).add(
                (self.rel, self.scope[-1]))
            self.generic_visit(node)

    def constants_outside_docstrings(tree):
        docs = {id(body[0].value) for body in
                (n.body for n in ast.walk(tree)
                 if isinstance(n, (ast.Module, ast.ClassDef,
                                   ast.FunctionDef,
                                   ast.AsyncFunctionDef)))
                if body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)}
        return {n.value for n in ast.walk(tree)
                if isinstance(n, ast.Constant)
                and isinstance(n.value, str) and id(n) not in docs}

    root = pathlib.Path(pkg.__file__).parent
    found: dict = {}
    for py in root.rglob("*.py"):
        text, rel = py.read_text(), str(py.relative_to(root))
        for side_channel in ("_udc_post_sink_commits", "_udc_store_spans",
                             "_udc_stream_dedup_state",
                             "_udc_input_files", "_udc_input_fingerprint",
                             "_udc_kafka_commit", "_deferFinalize",
                             "_inputFingerprint", "_source_hooks",
                             "batch_archive_plan", "batch_manifest_plan",
                             "prepare_batch_sink_cfg"):
            assert side_channel not in text, (rel, side_channel)
        tree = ast.parse(text)
        Calls(rel, found).visit(tree)
        if rel == "engine.py":
            named = {c for c in constants_outside_docstrings(tree)
                     if any(w in c for w in ("archiveDir", "manifestDir",
                                             "agg_state"))}
            assert named == set(), named

    assert found["finalize_batch_sink"] == {("engine.py", "execute")}
    for step in ("finalize_batch_sink", "create_sink"):
        assert not {fn for rel, fn in found.get(step, ())
                    if rel == "manager.py"}, step


def test_archive_plan_ignores_sql_joined_tables(spark, tmp_path):
    """A `sql` transformation that scans another file-backed table must
    not get that table's files archived: the file source archives its
    own listing, not the transformed plan's."""
    from universal_data_connector_spark.engine import prepare

    inp, other = tmp_path / "in", tmp_path / "other"
    arch = tmp_path / "arch"
    _write(f"{inp}/a.txt", "hello")
    _write(f"{other}/side.txt", "side table data")
    spark.read.format("text").option("wholetext", "true") \
        .load(str(other)).createOrReplaceTempView("side_table")
    cfg = _pipeline("sql-join",
                    {"path": str(inp), "pattern": "*.txt",
                     "archiveDir": str(arch)},
                    {"path": str(tmp_path / "out"), "extension": ".txt"},
                    [{"type": "sql", "properties": {
                        "query": "SELECT source_file, file_type, "
                                 "content FROM _input "
                                 "CROSS JOIN side_table"}}])
    pipeline = prepare(spark, cfg)
    try:
        # the transformed plan DOES scan the side table — that's the trap
        assert any("side.txt" in f for f in pipeline.df.inputFiles())
        pipeline.execute()
    finally:
        pipeline.close()
    assert os.listdir(arch) == ["a.txt"]
    assert os.listdir(other) == ["side.txt"]


def _manifest_entries(manifest) -> set:
    return {line.strip() for name in os.listdir(manifest)
            if name.endswith(".log")
            for line in open(os.path.join(manifest, name)) if line.strip()}


def test_manifest_plan_uses_sink_listing_not_a_relist(spark, tmp_path):
    """ADVICE r7 medium: the consumed list must come from the SAME
    listing the sink read. A file that lands after the source frame
    was built (and before post-run bookkeeping) must NOT be recorded
    as consumed — recording it would permanently skip rows that were
    never written."""
    from universal_data_connector_spark.engine import prepare

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    manifest = str(tmp_path / "manifest")
    cfg = parse_config({"pipelines": [{
        "name": "m",
        "source": {"type": "file",
                   "properties": {"path": str(src), "pattern": "*.txt",
                                  "manifestDir": manifest}},
        "transformations": [],
        "sink": {"type": "memory", "properties": {"queryName": "m_out"}},
    }]}).pipelines[0]
    pipeline = prepare(spark, cfg)
    try:
        # a late file lands AFTER the listing the sink consumes
        (src / "late.txt").write_text("late")
        pipeline.execute()
    finally:
        pipeline.close()
    assert [r.content for r in spark.table("m_out").collect()] == ["alpha"]
    recorded = _manifest_entries(manifest)
    assert any(f.endswith("a.txt") for f in recorded)
    assert not any(f.endswith("late.txt") for f in recorded), (
        "a file the sink never read was marked consumed — its rows "
        "would be permanently skipped")
    # the next run picks the late file up
    run(spark, cfg)
    assert [r.content for r in spark.table("m_out").collect()] == ["late"]


def test_manifest_plan_excludes_log_files(spark, tmp_path):
    """The anti-join scans the manifest's own .log files; they must
    not be recorded as consumed (the log would grow every run)."""
    from universal_data_connector_spark.sources.files import (
        manifest_record,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.txt").write_text("alpha")
    manifest = str(tmp_path / "manifest")
    manifest_record([str(src / "zzz-other.txt")], manifest)
    cfg = parse_config({"pipelines": [{
        "name": "m",
        "source": {"type": "file",
                   "properties": {"path": str(src), "pattern": "*.txt",
                                  "manifestDir": manifest}},
        "transformations": [],
        "sink": {"type": "memory", "properties": {"queryName": "m_out2"}},
    }]}).pipelines[0]
    run(spark, cfg)
    recorded = _manifest_entries(manifest)
    assert any(f.endswith("a.txt") for f in recorded), recorded
    assert all(".log" not in f for f in recorded), recorded


def test_post_sink_steps_run_in_crash_order_and_stop_on_cancel(
        spark, tmp_path, monkeypatch):
    """A batch file pipeline with archiveDir, manifestDir, a
    dedup_state and an agg_state sink: after the sink, the seen commit,
    the archive move, the manifest record and the intent clear run in
    that order. A cancel that lands after the seen commit skips every
    later step, so the intent survives for the rerun to resume."""
    from universal_data_connector_spark.engine import prepare
    from universal_data_connector_spark.operators import dedup_state
    from universal_data_connector_spark.sources import files
    from universal_data_connector_spark.streaming import windows

    calls: list[str] = []

    def spy(owner, name, label):
        real = getattr(owner, name)

        def wrapped(*a, **k):
            calls.append(label)
            return real(*a, **k)

        monkeypatch.setattr(owner, name, wrapped)

    spy(dedup_state.PosixSeenStore, "append", "seen")
    spy(files, "_archive_consumed", "archive")
    spy(files, "manifest_record", "manifest")
    spy(windows, "end_batch_run", "intent")

    inp, state = tmp_path / "in", tmp_path / "state"

    def cfg():
        return parse_config({"pipelines": [{
            "name": "post-sink-order",
            "source": {"type": "file", "properties": {
                "path": str(inp), "pattern": "*.txt",
                "archiveDir": str(tmp_path / "arch"),
                "manifestDir": str(tmp_path / "manifest")}},
            "transformations": [
                {"type": "sql", "properties": {
                    "query": "SELECT content, 1.0 AS v FROM _input"}},
                {"type": "dedup_state", "properties": {
                    "stateDir": str(tmp_path / "seen"), "keys": "content",
                    "numBuckets": "4"}}],
            "sink": {"type": "agg_state", "properties": {
                "path": str(state), "keys": "content",
                "valueColumn": "v", "numBuckets": "4"}},
        }]}).pipelines[0]

    _write(f"{inp}/a.txt", "alpha")
    run(spark, cfg())
    assert calls == ["seen", "archive", "manifest", "intent"]
    assert os.listdir(inp) == []
    assert not os.path.exists(state / windows._BATCH_INTENT)

    calls.clear()
    _write(f"{inp}/b.txt", "beta")
    pipeline = prepare(spark, cfg())
    try:
        pipeline.execute(cancelled=lambda: "seen" in calls)
    finally:
        pipeline.close()
    assert calls == ["seen"]
    assert os.listdir(inp) == ["b.txt"]          # not archived
    assert os.path.exists(state / windows._BATCH_INTENT)  # kept


def test_manifest_uri_canon_column_matches_python(spark):
    """The JVM regexp_replace canonicalization used by the manifest
    anti-join must agree with the Python canonical_file_uri used when
    recording — a divergence would silently re-consume or skip files."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.sources.files import (
        _canonical_uri_col,
        canonical_file_uri,
    )

    uris = ["file:///a/b.txt", "file:/a/b.txt", "file:////weird",
            "s3a://bucket/k.txt", "hdfs://nn:8020/x", "/plain/path",
            "a+b.scheme-x:///y"]
    df = spark.createDataFrame([(u,) for u in uris], "u string")
    got = [r[0] for r in df.select(_canonical_uri_col(F.col("u"))).collect()]
    assert got == [canonical_file_uri(u) for u in uris]


def test_uri_decode_roundtrip_pins_encoding_assumption(spark, tmp_path):
    """A file named with a space MUST surface URI-encoded in the raw
    text-source metadata on this Spark version (that is the assumption
    `decoded_uri_path_col` exists to reverse), and decoded back to the
    literal on-disk name after it. A Spark upgrade that changes the
    metadata spelling fails HERE, loudly, instead of silently mangling
    sink filenames."""
    from pyspark.sql import functions as F

    p = tmp_path / "report final v2.txt"
    p.write_text("hello\n")
    from universal_data_connector_spark.sources.files import (
        decoded_uri_path_col)
    row = (spark.read.format("text").load(str(tmp_path))
           .select(F.col("_metadata.file_name").alias("raw"),
                   decoded_uri_path_col(
                       F.col("_metadata.file_name")).alias("dec"))
           .collect()[0])
    assert row.raw == "report%20final%20v2.txt"   # the pinned assumption
    assert row.dec == "report final v2.txt"       # the reversal


def test_uri_decode_malformed_percent_degrades_to_raw(spark):
    """try_url_decode + coalesce fallback: a percent sequence that is
    not valid encoding (e.g. a raw-path spelling leaking through on
    some future Spark) surfaces AS-IS instead of raising
    URL_DECODE_ERROR. Valid sequences still decode; literal `+` stays
    a plus (URI path semantics, not form encoding)."""
    from pyspark.sql import functions as F

    from universal_data_connector_spark.sources.files import (
        decoded_uri_path_col)
    cases = spark.createDataFrame(
        [("file:/d/bad%zzname.txt",),    # malformed -> raw preserved
         ("file:/d/ok%20name.txt",),     # valid -> decoded
         ("file:/d/a+b%25c.txt",)],      # + literal, %25 -> %
        "u string")
    got = [r.d for r in
           cases.select(decoded_uri_path_col(F.col("u")).alias("d"))
                .collect()]
    assert got == ["file:/d/bad%zzname.txt",
                   "file:/d/ok name.txt",
                   "file:/d/a+b%c.txt"]
