"""Source/sink coverage that needs real files: XML ingest + entity
explosion (S1/S2), TSV with explicit schema (S3), sized JSON sink (S10),
single-file CSV sink (S14)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from tests.conftest import SF_SMOKE

XML_DOC = """<?xml version="1.0" encoding="UTF-8"?>
<root>
  <centre centreID="C1" pipeline="P1">
    <experiment experimentID="E1" procedureID="PR_001">
      <simpleParameter parameterID="SP1"><value>4.2</value></simpleParameter>
      <simpleParameter parameterID="SP2"><value>7.0</value></simpleParameter>
    </experiment>
    <experiment experimentID="E2" procedureID="PR_002">
      <simpleParameter parameterID="SP1"><value>1.5</value></simpleParameter>
    </experiment>
  </centre>
  <centre centreID="C2" pipeline="P2">
    <experiment experimentID="E3" procedureID="PR_001">
      <simpleParameter parameterID="SP3"><value>9.9</value></simpleParameter>
    </experiment>
  </centre>
</root>
"""


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml_src")
    (d / "c1.xml").write_text(XML_DOC)
    return str(d)


def test_xml_ingest_and_entity_explode(spark, xml_dir):
    from impc_etl_spark.operators.explode import explode_entities
    from impc_etl_spark.sources.readers import read_xml_entities

    # Spark 4 ships a native XML datasource — its absence would silently
    # reduce S1 coverage to a skip, so assert it is actually present here.
    centres = read_xml_entities(spark, f"{xml_dir}/*.xml", row_tag="centre")
    assert "_source_file" in centres.columns
    exps = explode_entities(
        centres, "experiment", keep_cols=["_centreID", "_pipeline"], type_tag="experiment"
    )
    rows = {r["_experimentID"]: r for r in exps.collect()}
    assert set(rows) == {"E1", "E2", "E3"}
    assert rows["E1"]["_centreID"] == "C1" and rows["E3"]["_centreID"] == "C2"
    assert rows["E1"]["_type"] == "experiment"
    # nested parameter arrays survive for explode_params downstream
    assert len(rows["E1"]["simpleParameter"]) == 2


def test_xml_dcc_directory_layout_end_to_end(spark, tmp_path):
    """S1 end-to-end on the reference's directory convention
    (xml_extraction_helper.py:22-81): <root>/<datasource>/*experiment*.xml
    read with rowTag=centre / nullValue='' / FAILFAST, source-file tagged,
    data source recovered from the path (split('/')[-2] as a regexp, not
    a UDF), entities exploded."""
    from impc_etl_spark.operators.explode import explode_entities
    from impc_etl_spark.sources.readers import read_xml_entities, tag_path_component

    (tmp_path / "europhenome").mkdir()
    (tmp_path / "3i").mkdir()
    (tmp_path / "europhenome" / "a_experiment_file.xml").write_text(XML_DOC)
    (tmp_path / "3i" / "b_experiment_file.xml").write_text(
        XML_DOC.replace("C1", "C9").replace("C2", "C8")
        .replace("E1", "E7").replace("E2", "E8").replace("E3", "E9")
    )

    centres = read_xml_entities(
        spark, f"{tmp_path}/*/*experiment*.xml", row_tag="centre"
    )
    centres = tag_path_component(centres, 2, "_dataSource")
    exps = explode_entities(
        centres, "experiment",
        keep_cols=["_centreID", "_dataSource", "_source_file"],
        type_tag="experiment",
    )
    rows = {r["_experimentID"]: r for r in exps.collect()}
    assert set(rows) == {"E1", "E2", "E3", "E7", "E8", "E9"}
    assert rows["E1"]["_dataSource"] == "europhenome"
    assert rows["E7"]["_dataSource"] == "3i"
    assert rows["E1"]["_source_file"] == "a_experiment_file.xml"


def test_xml_failfast_and_nullvalue(spark, tmp_path):
    """The rowTag/FAILFAST/nullValue option surface itself: an empty
    attribute string becomes NULL, and malformed XML fails loudly under
    the default FAILFAST (the reference's mode) instead of silently
    dropping rows."""
    from impc_etl_spark.sources.readers import read_xml_entities

    good = tmp_path / "good"
    good.mkdir()
    (good / "x.xml").write_text(
        '<root><centre centreID="" pipeline="P1">'
        "<experiment experimentID=\"E1\"><v>1</v></experiment>"
        "</centre></root>"
    )
    df = read_xml_entities(spark, f"{good}/*.xml", row_tag="centre")
    row = df.collect()[0]
    assert row["_centreID"] is None          # nullValue="" applied
    assert row["_pipeline"] == "P1"

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "y.xml").write_text("<root><centre><experiment></root>")
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST|parse"):
        read_xml_entities(spark, f"{bad}/*.xml", row_tag="centre").collect()


def test_tsv_with_schema(spark, tmp_path):
    from impc_etl_spark.sources.readers import read_tsv

    p = tmp_path / "strain.tsv"
    p.write_text("MGI:1\tC57BL/6J\t6\nMGI:2\tBALB/c\toops\n")
    schema = StructType([
        StructField("id", StringType()),
        StructField("name", StringType()),
        StructField("code", IntegerType()),
    ])
    df = read_tsv(spark, str(p), schema=schema, header=False)
    got = sorted((r["id"], r["code"]) for r in df.collect())
    # DROPMALFORMED keeps both rows; the bad int cell becomes NULL under
    # permissive CSV casting or the row is dropped — either way no crash
    assert ("MGI:1", 6) in got


def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """S5/S11 against a REAL JDBC database: Apache Derby ships on Spark's
    classpath (embedded, file-backed), so the write path — including
    createTableColumnTypes — and the partitioned ranged read execute
    end-to-end, not as untestable wrappers (reference:
    impc_api_pg_loader.py:52-79, gene_ref_extractor.py:100-170; only the
    url/driver differ from Postgres)."""
    from impc_etl_spark.sources.sinks import read_jdbc_partitioned, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Spark QUOTES column names it creates, and Derby folds unquoted SQL
    # identifiers to uppercase — uppercase names keep both sides aligned
    # (same discipline Postgres lowercase columns need, inverted).
    df = spark.range(100).select(
        F.col("id").cast("int").alias("GENE_ID"),
        F.concat(F.lit("ACC:"), F.col("id")).alias("ACC"),
    )
    write_jdbc(
        df, url, "GENES", properties=props,
        create_table_column_types="GENE_ID INT, ACC VARCHAR(32)",
    )
    back = read_jdbc_partitioned(
        spark, url, "SELECT GENE_ID, ACC FROM GENES WHERE GENE_ID < 50",
        partition_column="GENE_ID", lower=0, upper=50, num_partitions=4,
        properties=props,
    )
    # the ranged scan actually splits: numPartitions JDBC slices
    assert back.rdd.getNumPartitions() == 4
    got = sorted((r["GENE_ID"], r["ACC"]) for r in back.collect())
    assert len(got) == 50 and got[0] == (0, "ACC:0") and got[-1] == (49, "ACC:49")

    # append mode lands extra rows in the same table
    write_jdbc(
        spark.range(100, 110).select(
            F.col("id").cast("int").alias("GENE_ID"),
            F.concat(F.lit("ACC:"), F.col("id")).alias("ACC"),
        ),
        url, "GENES", mode="append", properties=props,
    )
    total = spark.read.jdbc(url, "GENES", properties=props).count()
    assert total == 110


def test_sized_json_sink_and_single_csv(spark, tmp_path):
    from impc_etl_spark.sources.sinks import write_single_csv, write_sized_json

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    jdir = str(tmp_path / "j")
    write_sized_json(df, jdir, num_files=4)
    assert len(glob.glob(f"{jdir}/part-*")) == 4
    assert spark.read.json(jdir).count() == 100

    cdir = str(tmp_path / "c")
    write_single_csv(df, cdir)
    assert len(glob.glob(f"{cdir}/part-*")) == 1
    assert spark.read.csv(cdir, header=True).count() == 100


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    from impc_etl_spark.sources.sinks import write_bucketed
    from tests.conftest import SF_SMOKE

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        a = spark.table("b_lineitem")
        b = spark.table("b_orders")
        j = a.join(b, a.l_orderkey == b.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: bucket layout reused
        assert j.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_jsonl_statpacket_ingest(spark, tmp_path):
    from impc_etl_spark.sources.readers import read_jsonl
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    p = tmp_path / "packets.jsonl"
    p.write_text(
        'STATPACKET: {"procedure": "IMPC_001", "p_value": 0.03}\n'
        'STATPACKET: {"procedure": "IMPC_002", "p_value": 0.9}\n'
    )
    schema = StructType([
        StructField("procedure", StringType()),
        StructField("p_value", DoubleType()),
    ])
    df = read_jsonl(spark, str(p), schema=schema, strip_prefix_regex=r"^STATPACKET: ")
    got = {r["procedure"]: r["p_value"] for r in df.collect()}
    assert got == {"IMPC_001": 0.03, "IMPC_002": 0.9}


def test_single_text_sink(spark, tmp_path):
    from impc_etl_spark.sources.sinks import write_single_text

    df = spark.createDataFrame([('{"a": 1}',), ('{"b": 2}',)], ["blob"])
    out = str(tmp_path / "txt")
    write_single_text(df, out, "blob")
    parts = glob.glob(f"{out}/part-*")
    assert len(parts) == 1
    lines = set(open(parts[0]).read().splitlines())
    assert lines == {'{"a": 1}', '{"b": 2}'}


def test_partitioned_write_prunes(spark, tmp_path):
    from impc_etl_spark.sources.sinks import write_parquet
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = str(tmp_path / "orders_part")
    write_parquet(orders, out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().toString()
    # partition filter must prune at planning time, not scan-and-filter
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert back.count() == orders.where(F.col("o_orderstatus") == "F").count()


def test_compact_parquet(spark, tmp_path):
    from impc_etl_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "many")
    spark.range(20000).repartition(40).write.parquet(src)
    assert len(glob.glob(f"{src}/part-*.parquet")) == 40
    dst = str(tmp_path / "compacted")
    n = compact_parquet(spark, src, dst, target_file_bytes=10**12)
    assert n == 1
    assert len(glob.glob(f"{dst}/part-*.parquet")) == 1
    assert spark.read.parquet(dst).count() == 20000


OBO_SAMPLE = """format-version: 1.2

[Term]
id: MP:0000001
name: mammalian phenotype

[Term]
id: MP:0000010
name: skeleton phenotype
is_a: MP:0000001 ! mammalian phenotype

[Term]
id: MP:0000020
name: long bones
is_a: MP:0000010 ! skeleton phenotype

[Term]
id: MP:0000099
name: dead term
is_a: MP:0000001
is_obsolete: true

[Typedef]
id: part_of
"""


def test_obo_ingest_and_closure(spark):
    from impc_etl_spark.operators.graph import ancestor_arrays, transitive_closure
    from impc_etl_spark.sources.ontology import ontology_dataframe, term_edges

    terms = ontology_dataframe(spark, OBO_SAMPLE)
    assert terms.count() == 4
    edges = term_edges(terms)   # obsolete term excluded
    assert edges.count() == 2
    anc = {
        r["node"]: r["ancestors"]
        for r in ancestor_arrays(transitive_closure(edges)).collect()
    }
    assert anc["MP:0000020"] == ["MP:0000001", "MP:0000010"]
    assert anc["MP:0000010"] == ["MP:0000001"]


def test_rest_crawl_to_df(spark):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from impc_etl_spark.sources.readers import rest_crawl_to_df

    pages = [[(1, "a"), (2, "b")], [(3, "c")], []]

    def fetch(i):
        return pages[i] if i < len(pages) else None

    schema = StructType([
        StructField("id", IntegerType()), StructField("v", StringType())
    ])
    df = rest_crawl_to_df(spark, fetch, schema)
    assert sorted((r["id"], r["v"]) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]


def test_shape_solr_documents_projects_casts_and_fills_id(spark):
    from pyspark.sql import functions as F

    from impc_etl_spark.sources.sinks import shape_solr_documents

    df = spark.createDataFrame(
        [(1, 10, "x", [1, 2]), (2, 20, "y", [3])],
        ["k", "n", "s", "arr"],
    ).withColumn("dropped", F.lit("not in schema"))
    schema_fields = {"k": "plong", "n": "pint", "s": "string", "arr": "plongs",
                     "doc_id": "string"}

    out = shape_solr_documents(df, schema_fields, unique_field="k")
    dt = dict(out.dtypes)
    assert "dropped" not in dt                      # schema projection
    assert dt["k"] == "double" and dt["n"] == "double"
    assert dt["arr"] == "array<double>" and dt["s"] == "string"

    # missing unique field -> uuid per row (nondeterministic branch)
    filled = shape_solr_documents(df, schema_fields, unique_field="doc_id")
    ids = [r["doc_id"] for r in filled.collect()]
    assert len(set(ids)) == 2 and all(len(i) == 36 for i in ids)

    # deterministic_ids: stable across runs
    d1 = {r["k"]: r["doc_id"] for r in shape_solr_documents(
        df, schema_fields, "doc_id", deterministic_ids=True).collect()}
    d2 = {r["k"]: r["doc_id"] for r in shape_solr_documents(
        df, schema_fields, "doc_id", deterministic_ids=True).collect()}
    assert d1 == d2 and len(set(d1.values())) == 2


def test_shape_mongo_documents_adds_class_discriminator(spark):
    from impc_etl_spark.sources.sinks import shape_mongo_documents

    df = spark.createDataFrame([(1,)], ["a"])
    out = shape_mongo_documents(df, "org.impc.api.Doc")
    assert out.columns == ["a", "_class"]
    assert out.head()["_class"] == "org.impc.api.Doc"


def test_write_sorted_parquet_files_are_range_disjoint(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions must yield files whose
    key ranges do not overlap — the property that makes row-group min/max
    stats prune point/range scans."""
    import pyarrow.parquet as pq

    from impc_etl_spark.sources.sinks import write_sorted_parquet
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = str(tmp_path / "orders_sorted")
    write_sorted_parquet(orders, out, ["o_orderkey"], num_files=4)

    import glob

    ranges = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        md = pq.read_metadata(f)
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next  # globally disjoint key ranges
    back = spark.read.parquet(out)
    assert back.count() == orders.count()


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from impc_etl_spark.sources.sinks import read_orc, write_orc
    from tests.conftest import SF_SMOKE

    nation = spark.read.parquet(f"{SF_SMOKE}/nation.parquet")
    out = str(tmp_path / "nation_orc")
    write_orc(nation, out)
    back = read_orc(spark, out).where(F.col("n_regionkey") == 1).select("n_name")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_regionkey" in plan
    assert back.count() == nation.where("n_regionkey = 1").count()


def test_read_binary_files_roundtrip(spark, tmp_path):
    from impc_etl_spark.sources.readers import read_binary_files

    media = tmp_path / "media"
    media.mkdir()
    (media / "a.png").write_bytes(b"\x89PNG\r\n\x1a\nfakepixels")
    (media / "b.wav").write_bytes(b"RIFF....WAVEfakeaudio")
    (media / "notes.txt").write_text("not media")

    df = read_binary_files(spark, str(media), glob="*.{png,wav}")
    rows = {r.file_name: r for r in df.collect()}
    assert set(rows) == {"a.png", "b.wav"}
    assert rows["a.png"].content == b"\x89PNG\r\n\x1a\nfakepixels"
    assert rows["a.png"].file_ext == "png"
    assert rows["b.wav"].length == len(b"RIFF....WAVEfakeaudio")
    # listing-time prune: the glob keeps the .txt from ever being read
    cols = set(df.columns)
    assert {"path", "modificationTime", "length", "content"} <= cols


def test_single_text_sink_line_count(spark, tmp_path):
    from impc_etl_spark.sources.sinks import write_single_text

    df = spark.range(50).selectExpr("concat('line-', id) as s")
    d = str(tmp_path / "t")
    write_single_text(df, d, "s")
    assert len(glob.glob(f"{d}/part-*")) == 1
    assert spark.read.text(d).count() == 50


def test_sharded_manifest_export_roundtrip(spark, tmp_path):
    from impc_etl_spark.operators.text import token_count
    from impc_etl_spark.sources.sinks import write_shards_with_manifest
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").withColumn(
        "n_tokens", token_count("text")
    )
    d = str(tmp_path / "shards")
    m = write_shards_with_manifest(docs, d, 8, ["doc_id"], token_col="n_tokens")
    assert m["total_rows"] == docs.count()
    assert len(m["shards"]) <= 8
    back = spark.read.parquet(d)
    assert back.count() == m["total_rows"]
    # shard dirs exist and partition pruning applies on the shard column
    one = back.where("shard = 3")
    assert one.count() == next(
        s["n_rows"] for s in m["shards"] if s["shard"] == 3
    )
    # assignment is deterministic across runs
    m2 = write_shards_with_manifest(docs, str(tmp_path / "s2"), 8, ["doc_id"], token_col="n_tokens")
    assert m == {**m2}


def test_ivf_partitioned_index_prunes_partitions(spark, tmp_path):
    """The IVF scale story made concrete: persist the indexed corpus
    partitioned BY ivf_cluster, probe with a cluster IN-filter, and
    assert the filter becomes a PARTITION filter at the scan — pruned
    directories are never read, so a 100 TB index probe touches only
    nprobe/nlist of the data."""
    from impc_etl_spark.operators.similarity import ivf_build
    from tests.conftest import SF_SMOKE

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    indexed, centroids = ivf_build(emb, nlist=4, iterations=1)
    idx_dir = str(tmp_path / "ivf_index")
    indexed.write.partitionBy("ivf_cluster").parquet(idx_dir)

    probe = spark.read.parquet(idx_dir).where(F.col("ivf_cluster").isin([0, 2]))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_cluster" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # pruning is real: only the probed clusters' rows come back
    on_disk = spark.read.parquet(idx_dir)
    expected = on_disk.where(F.col("ivf_cluster").isin([0, 2])).count()
    assert probe.count() == expected
    full = on_disk.count()
    assert expected < full  # the filter actually prunes something


def test_incremental_crawl_pipeline_example(spark, tmp_path):
    """The examples/ incremental-crawl DAG runs end-to-end at sf0.001 and
    each stage strictly narrows the refresh slice."""
    import importlib

    mod = importlib.import_module("examples.incremental_crawl_pipeline")
    from tests.conftest import SF_SMOKE

    counts = mod.build(spark, SF_SMOKE, str(tmp_path / "out"))
    assert counts["diff"]["NEW"] > 0 and counts["diff"]["CHANGED"] > 0
    assert counts["refresh_slice"] == counts["diff"]["NEW"] + counts["diff"]["CHANGED"]
    assert (counts["refresh_slice"] >= counts["quality_gated"]
            >= counts["domain_targeted"] >= counts["store_deduped"] > 0)
    assert counts["batches"] >= 1


def test_zordered_write_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering gives BOTH key columns row-group locality: the
    per-file min/max span of each column is far below the global span,
    where a lexicographic sort leaves the trailing column's span ~global."""
    import itertools

    import pyarrow.parquet as pq

    from impc_etl_spark.sources.sinks import write_sorted_parquet, write_zordered_parquet

    rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "x int, y int")

    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered_parquet(df, zpath, ["x", "y"], num_files=16)
    write_sorted_parquet(df, spath, ["x"], num_files=16)

    def avg_span(path, col):
        import glob
        spans = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        spans.append(c.statistics.max - c.statistics.min)
        return sum(spans) / len(spans)

    # plain x-sort: x is clustered but y spans ~the whole domain per file
    assert avg_span(spath, "x") < 16
    assert avg_span(spath, "y") > 48
    # z-order: BOTH columns clustered well below the global span of 63
    assert avg_span(zpath, "x") < 32
    assert avg_span(zpath, "y") < 32


def test_z_order_key_interleave_exact(spark):
    from impc_etl_spark.operators.partitioning import z_order_key

    # 2-bit toy domain: values 0..3 scale to themselves; interleave is the
    # textbook Morton code
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {(r["x"], r["y"]): r["z_key"]
           for r in z_order_key(df, ["x", "y"], bits=2).collect()}

    def morton(x, y):
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in rows}
    # constant column scales to 0 (no division blowup)
    const = spark.createDataFrame([(1, 5), (2, 5)], "x int, y int")
    ks = [r["z_key"] for r in z_order_key(const, ["x", "y"], bits=2).collect()]
    assert len(set(ks)) == 2  # x still discriminates


def test_read_jsonl_infers_schema_without_rdd(spark, tmp_path):
    """Prefix-stripped JSONL with NO explicit schema: the bounded-sample
    schema_of_json inference must merge fields across lines (line 2
    introduces `extra`) and parse everything via from_json — no RDD."""
    from impc_etl_spark.sources.readers import read_jsonl

    p = tmp_path / "sp.jsonl"
    p.write_text(
        'STATPACKET: {"procedure": "IMPC_001", "p_value": 0.03}\n'
        '\n'
        'STATPACKET: {"procedure": "IMPC_002", "p_value": 0.9, "extra": "x"}\n'
    )
    df = read_jsonl(spark, str(p), strip_prefix_regex=r"^STATPACKET: ")
    assert {"procedure", "p_value", "extra"} <= set(df.columns)
    rows = {r["procedure"]: (r["p_value"], r["extra"])
            for r in df.where(F.col("procedure").isNotNull()).collect()}
    assert rows == {"IMPC_001": (0.03, None), "IMPC_002": (0.9, "x")}


def test_read_jsonl_inference_tolerates_malformed_sample_lines(spark, tmp_path):
    """Regression (r4 advice): one malformed line inside the inference
    sample must not fail the whole read with an opaque schema_of_json
    error — it is dropped from the SAMPLE (the parse itself stays
    from_json, which NULLs it); an all-malformed sample raises a clear
    error naming the offender."""
    import pytest

    from impc_etl_spark.sources.readers import read_jsonl

    p = tmp_path / "hostile.jsonl"
    p.write_text(
        'STATPACKET: {"procedure": "IMPC_001", "p_value": 0.03}\n'
        'STATPACKET: {broken json!!\n'
        'STATPACKET: {"procedure": "IMPC_002", "p_value": 0.9}\n'
    )
    df = read_jsonl(spark, str(p), strip_prefix_regex=r"^STATPACKET: ")
    rows = {r["procedure"]: r["p_value"]
            for r in df.where(F.col("procedure").isNotNull()).collect()}
    assert rows == {"IMPC_001": 0.03, "IMPC_002": 0.9}

    allbad = tmp_path / "allbad.jsonl"
    allbad.write_text("STATPACKET: {nope\nSTATPACKET: {also nope\n")
    with pytest.raises(ValueError, match="first offender"):
        read_jsonl(spark, str(allbad), strip_prefix_regex=r"^STATPACKET: ")


def test_mongo_write_option_map_pinned():
    """No Mongo service exists here, but the connector option plumbing is
    a pure function — pin it to the reference's connector config
    (impc_bulk_api_mongo_load.py:55-66: write uri, database, collection,
    majority write concern)."""
    from impc_etl_spark.sources.sinks import mongo_write_options

    opts = mongo_write_options(
        "mongodb://host:27017", "impc", "gene_bundles"
    )
    assert opts == {
        "spark.mongodb.write.uri": "mongodb://host:27017",
        "database": "impc",
        "collection": "gene_bundles",
        "writeConcern.w": "majority",
    }


def test_mongo_document_shape_class_discriminator(spark):
    from impc_etl_spark.sources.sinks import shape_mongo_documents

    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    out = shape_mongo_documents(df, "org.mousephenotype.api.Gene")
    rows = out.collect()
    assert out.columns == ["k", "v", "_class"]
    assert rows[0]["_class"] == "org.mousephenotype.api.Gene"


def test_warc_parse_build_paths(spark):
    """WARC: plain and per-stream-gzip roundtrips, multi-record files,
    CRLF framing with binary payloads containing CRLFCRLF (Content-Length
    delimiting must win over separator scanning), truncated/hostile
    inputs, and the exploding reader's row shape."""
    from pyspark.sql import functions as F

    from impc_etl_spark.sources.readers import (
        build_warc, parse_warc_records, warc_records_df,
    )

    tricky = b"a\r\n\r\nb" * 3          # payload containing the separator
    recs = [
        {"type": "response", "record_id": "<urn:1>",
         "target_uri": "https://x/1", "date": "2026-01-01T00:00:00Z",
         "payload": tricky},
        {"type": "response", "record_id": "<urn:2>",
         "target_uri": "https://x/2", "date": "2026-01-01T00:00:00Z",
         "payload": b""},               # empty payload is legal
        {"type": "metadata", "record_id": "<urn:3>",
         "target_uri": None, "date": None, "payload": b"k: v"},
    ]
    for compress in (False, True):
        got = parse_warc_records(build_warc(recs, compress=compress))
        assert [r["payload"] for r in got] == [tricky, b"", b"k: v"]
        assert got[2]["target_uri"] is None and got[0]["type"] == "response"

    blob = build_warc(recs)
    assert parse_warc_records(blob[:25]) is None          # truncated header
    part = parse_warc_records(blob[: len(blob) - 10])     # truncated tail
    assert part is not None and len(part) == 2            # keeps whole recs
    assert parse_warc_records(b"HTTP/1.1 200 OK\r\n\r\n") is None

    df = spark.createDataFrame(
        [(1, build_warc(recs, compress=True)), (2, b"junk")],
        "media_id bigint, content binary",
    )
    rows = warc_records_df(df).collect()
    assert len(rows) == 3 and all(r["media_id"] == 1 for r in rows)
    assert [r["record_idx"] for r in sorted(rows, key=lambda r: r["record_idx"])] == [0, 1, 2]
    assert {r["content_length"] for r in rows} == {len(tricky), 0, 4}


def test_zip_entries_paths(spark):
    """ZIP explode: member metadata + content for deflate and stored
    archives, bomb-guard (header-declared size over the cap → metadata
    row with NULL text), junk payloads contribute no rows, and the
    builder is byte-deterministic."""
    from impc_etl_spark.sources.readers import build_zip, zip_entries_df

    z1 = build_zip([("a.txt", b"hello"), ("d/b.txt", b"world!")])
    z2 = build_zip([("s.txt", b"stored")], compress=False)
    assert z1 == build_zip([("a.txt", b"hello"), ("d/b.txt", b"world!")])
    df = spark.createDataFrame(
        [(1, z1), (2, z2), (9, b"PK\x03\x04junk")],
        "media_id bigint, content binary",
    )
    rows = {(r["media_id"], r["member_name"]): r
            for r in zip_entries_df(df).collect()}
    assert len(rows) == 3
    assert rows[(1, "a.txt")]["text"] == "hello"
    assert rows[(1, "d/b.txt")]["n_bytes"] == 6
    assert rows[(1, "a.txt")]["method"] == "deflate"
    assert rows[(2, "s.txt")]["method"] == "stored"
    assert rows[(2, "s.txt")]["text"] == "stored"

    capped = zip_entries_df(
        spark.createDataFrame([(5, z1)], "media_id bigint, content binary"),
        max_member_bytes=3,
    ).collect()
    assert all(r["text"] is None for r in capped)       # cap: metadata only
    assert {r["member_name"] for r in capped} == {"a.txt", "d/b.txt"}


def test_tar_entries_paths(spark):
    """Tar explode: plain and gzipped archives, directories skipped,
    size cap yields metadata-only rows, junk contributes no rows, and
    the builder is byte-deterministic."""
    import io
    import tarfile

    from impc_etl_spark.sources.readers import build_tar, tar_entries_df

    t1 = build_tar([("a.txt", b"hello"), ("d/b.txt", "wörld".encode())])
    tgz = build_tar([("x.txt", b"xx")], gz=True)
    # add a directory member manually: must be skipped
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        d = tarfile.TarInfo("somedir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
        f = tarfile.TarInfo("somedir/f.txt")
        payload = b"inside"
        f.size = len(payload)
        tf.addfile(f, io.BytesIO(payload))
    with_dir = buf.getvalue()

    df = spark.createDataFrame(
        [(1, t1), (2, tgz), (3, with_dir), (9, b"not a tar")],
        "media_id bigint, content binary",
    )
    rows = {(r["media_id"], r["member_name"]): r
            for r in tar_entries_df(df).collect()}
    assert set(rows) == {(1, "a.txt"), (1, "d/b.txt"), (2, "x.txt"),
                         (3, "somedir/f.txt")}
    assert rows[(1, "d/b.txt")]["text"] == "wörld"
    assert rows[(3, "somedir/f.txt")]["text"] == "inside"
    capped = tar_entries_df(
        spark.createDataFrame([(5, t1)], "media_id bigint, content binary"),
        max_member_bytes=3,
    ).collect()
    assert all(r["text"] is None for r in capped) and len(capped) == 2


def test_warc_gzip_bomb_bounded_and_members_concatenate():
    """A crafted gzip expanding past 1024x its compressed size is
    rejected fast (decompression bomb), while the legitimate
    one-gzip-member-per-record .warc.gz convention (concatenated
    members) still parses."""
    import gzip
    import time

    from impc_etl_spark.sources.readers import build_warc, parse_warc_records

    rec = [{"type": "response", "record_id": "<u:1>",
            "target_uri": "https://x", "date": "2026-01-01T00:00:00Z",
            "payload": b"abc"}]
    blob = build_warc(rec, compress=True)
    got = parse_warc_records(blob + blob)        # two concatenated members
    assert got is not None and len(got) == 2

    bomb = gzip.compress(b"WARC/1.0\r\n" + b"\x00" * (64 * 1024 * 1024), 9)
    t0 = time.monotonic()
    assert parse_warc_records(bomb) is None
    assert time.monotonic() - t0 < 3


def test_tar_decompression_bomb_bounded(spark):
    """Regression (r5 ADVICE): a compressed tar whose decompressed size
    vastly exceeds 1024x the payload stops early (bounded CPU, mirroring
    the WARC inflate cap) — members past the cap are not walked — while
    legitimate small archives are unaffected. bzip2 is the demonstration
    codec (ratios beyond 100000:1 on repetitive data; gzip's deflate
    tops out near the 1024x cap itself)."""
    import io
    import tarfile

    from impc_etl_spark.sources.readers import build_tar, tar_entries_df

    # bomb: 2000 members of 64 KiB zeros (~132 MB tar) -> ~4.5 KB bz2
    buf = io.BytesIO()
    zeros = bytes(64 * 1024)
    with tarfile.open(fileobj=buf, mode="w:bz2",
                      format=tarfile.USTAR_FORMAT) as tf:
        for i in range(2000):
            info = tarfile.TarInfo(f"z{i:04d}")
            info.size = len(zeros)
            info.mtime = 0
            tf.addfile(info, io.BytesIO(zeros))
    bomb = buf.getvalue()
    assert len(bomb) < 1 << 16
    df = spark.createDataFrame([(1, bomb)], "media_id bigint, content binary")
    rows = tar_entries_df(df).collect()
    # cap = 1024 * len(bomb); each member costs 512 + 64 KiB declared
    cap_members = (1024 * len(bomb)) // (512 + 64 * 1024) + 1
    assert 0 < len(rows) <= cap_members < 2000
    # legitimate archive below the cap: all members still present
    ok = build_tar([(f"f{i}.txt", b"data") for i in range(10)], gz=True)
    got = tar_entries_df(
        spark.createDataFrame([(2, ok)], "media_id bigint, content binary")
    ).collect()
    assert len(got) == 10 and all(r["text"] == "data" for r in got)


def test_tar_midwalk_truncation_contributes_no_rows(spark):
    """Regression (r6 review): an archive that fails MID-walk — truncated
    after intact leading members, the common hostile/partial-fetch crawl
    shape — must contribute ZERO rows (the all-or-nothing contract),
    not partial rows for the members walked before the failure. A
    healthy sibling payload in the same batch is unaffected."""
    import io
    import tarfile

    from impc_etl_spark.sources.readers import tar_entries_df

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in (("a.txt", b"hello " * 50), ("b.txt", b"world " * 200)):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    full = buf.getvalue()
    # keep member a intact (hdr+512-padded data), cut b's data short:
    # the streaming walk yields a, then raises ReadError mid-iteration
    truncated = full[: 512 + 512 + 512 + 100]
    df = spark.createDataFrame(
        [(1, truncated), (2, full)], "media_id bigint, content binary"
    )
    rows = tar_entries_df(df).collect()
    assert {r["media_id"] for r in rows} == {2}
    assert sorted(r["member_name"] for r in rows) == ["a.txt", "b.txt"]


def test_dropmalformed_count_matches_projection(spark, tmp_path):
    """DROPMALFORMED must drop the same rows whatever a query projects:
    Spark's CSV column pruning makes malformed detection depend on the
    projected columns, so a bare count() would silently include rows a
    full select drops — read_csv pins full-row parsing (r7)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from impc_etl_spark.sources.readers import read_csv

    p = tmp_path / "rows.csv"
    p.write_text("id,name,n\n1,a,10\nnot-a-long,b,20\n3,c,30\n")
    schema = StructType([
        StructField("id", LongType()),
        StructField("name", StringType()),
        StructField("n", LongType()),
    ])
    df = read_csv(spark, str(p), schema=schema)
    assert df.count() == 2                      # count-only plan
    assert len(df.collect()) == 2               # full projection
    assert df.select("name").count() == 2       # partial projection


def test_dropmalformed_tolerates_dotted_column_names(spark, tmp_path):
    """The full-row pruning blocker must backtick-escape names: a bare
    F.col('a.b') parses the dot as a nested-field path and fails
    analysis on schemas with dotted names (r7 ADVICE)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from impc_etl_spark.sources.readers import read_csv

    p = tmp_path / "dotted.csv"
    p.write_text("a.b,c\n1,x\nbad-long-only\n2,y\n")
    schema = StructType([
        StructField("a.b", LongType()),
        StructField("c", StringType()),
    ])
    df = read_csv(spark, str(p), schema=schema)
    assert df.count() == 2
    got = sorted((r["a.b"], r["c"]) for r in df.collect())
    assert got == [(1, "x"), (2, "y")]


def test_roundtrip_header_ordering_is_explicit(spark, tmp_path):
    """The CSV/TSV roundtrip queries write the header via an explicit
    sort key inside the single partition (not union child order, which
    is an implementation detail — r7 ADVICE): the written file's FIRST
    line must be the header even after the union is reordered."""
    from impc_etl_spark import queries as q

    df = q.QUERIES["docs_csv_roundtrip"](spark, "/root/testdata/sf0.001")
    assert df.count() == 500  # malformed line dropped, all data rows kept
    # independent check on the physical file: header literally first
    df2 = q.QUERIES["docs_tsv_roundtrip"](spark, "/root/testdata/sf0.001")
    assert df2.count() == 500


# --- declared source schemas (sources.readers.SOURCE_SCHEMAS) ---------------


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    from examples.hostile_parity import build_hostile

    dst = str(tmp_path_factory.mktemp("hostile_src"))
    build_hostile(SF_SMOKE, dst)
    return dst


@pytest.mark.parametrize("which", ["clean", "hostile"])
def test_source_contract_equals_inferred_schema(spark, hostile_sf, which):
    """Each declared schema is exactly what Spark infers from the smoke
    testdata and from the DuckDB-written hostile copy, so the declared read
    hands every query the DataFrame inference would have."""
    from impc_etl_spark.session import load_tables
    from impc_etl_spark.sources.readers import SOURCE_SCHEMAS

    sf = SF_SMOKE if which == "clean" else hostile_sf
    loaded = load_tables(spark, sf)
    assert list(loaded) == list(SOURCE_SCHEMAS)
    for name, contract in SOURCE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
        assert contract == inferred, name
        assert loaded[name].schema == inferred, name


def test_source_loader_launches_no_spark_job(spark):
    """Loading all 10 tables builds no job (no schema inference); the
    positive control shows the job-group readout would see one."""
    from impc_etl_spark.session import load_tables

    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()
    group = "test_source_loader_launches_no_spark_job"
    sc.setJobGroup(group, "declared-schema reads")
    try:
        load_tables(spark, SF_SMOKE)
        bus.waitUntilEmpty()
        assert list(tracker.getJobIdsForGroup(group)) == []
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        bus.waitUntilEmpty()
        assert len(tracker.getJobIdsForGroup(group)) >= 1
    finally:
        sc._jsc.clearJobGroup()


def test_source_type_drift_raises(spark, tmp_path):
    """A documents file with doc_id written as string fails loudly, naming
    table, column, expected and found type, instead of being re-inferred."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impc_etl_spark.session import load_tables

    pq.write_table(
        pa.table({"doc_id": ["1", "2"], "text": ["a", "b"]}),
        str(tmp_path / "documents.parquet"),
    )
    with pytest.raises(ValueError) as err:
        load_tables(spark, str(tmp_path), "documents")
    msg = str(err.value)
    assert "'documents'" in msg and "'doc_id'" in msg
    assert "is string" in msg and "expects bigint" in msg


def test_source_unlisted_column_raises(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impc_etl_spark.session import load_tables

    pq.write_table(
        pa.table({"r_regionkey": pa.array([0], pa.int32()), "r_extra": ["x"]}),
        str(tmp_path / "region.parquet"),
    )
    with pytest.raises(ValueError, match="'r_extra' is string.*no such column"):
        load_tables(spark, str(tmp_path), "region")


def test_source_missing_contract_column_reads_own_columns(spark, tmp_path):
    """A file lacking contract columns reads with exactly its own columns,
    in file order — what inference returns for it."""
    from impc_etl_spark.session import load_tables

    spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("en").alias("lang"),
        F.lit("t").alias("text"),
    ).write.parquet(str(tmp_path / "documents.parquet"))
    df = load_tables(spark, str(tmp_path), "documents")["documents"]
    assert df.columns == ["doc_id", "lang", "text"]
    assert df.schema == spark.read.parquet(str(tmp_path / "documents.parquet")).schema
    assert sorted(r["doc_id"] for r in df.collect()) == [0, 1, 2]


def test_source_nullability_is_not_drift(spark, tmp_path):
    """Required columns and non-null array elements (as pyarrow or a
    Spark job can write them) match the contract: inference reads every
    field as nullable too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from impc_etl_spark.session import load_tables

    elem = pa.field("element", pa.float32(), nullable=False)
    pq.write_table(
        pa.table({
            "vec_id": pa.array([1, 2], pa.int64()),
            "embedding": pa.array([[1.0, 0.0], [0.0, 1.0]], pa.list_(elem)),
        }, schema=pa.schema([
            pa.field("vec_id", pa.int64(), nullable=False),
            pa.field("embedding", pa.list_(elem)),
        ])),
        str(tmp_path / "embeddings.parquet"),
    )
    df = load_tables(spark, str(tmp_path), "embeddings")["embeddings"]
    assert df.schema == spark.read.parquet(str(tmp_path / "embeddings.parquet")).schema
    assert df.count() == 2
