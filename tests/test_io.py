"""Sources (formats, detection) and sinks (partitioned, incremental,
bucketed) — round-trip and plan-shape tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

from forest_open_data_pipelines_spark.sinks import (
    write_bucketed_table,
    write_incremental_by_year,
    write_partitioned,
)
from forest_open_data_pipelines_spark.sources import load_table
from forest_open_data_pipelines_spark.sources.formats import (
    detect_delimiter,
    format_from_filename,
    profile_files,
    profile_table_files,
    read_delimited,
    read_json_lines,
)


# ── format / delimiter detection (profiling.py parity) ─────────────────


def test_format_from_filename():
    assert format_from_filename("a/b/focos_2024.csv") == "csv"
    assert format_from_filename("x.tar.GZ") == "gz"
    assert format_from_filename("noext") == "unknown"


@pytest.mark.parametrize(
    ("sample", "suffix", "expected"),
    [
        ("a;b;c\n1;2;3\n4;5;6", "csv", ";"),
        ("a,b,c\n1,2,3\n4,5,6", "csv", ","),
        ("a|b|c\n1|2|3\n4|5|6", "csv", "|"),
        ("a\tb\n1\t2", "tsv", "\t"),
        # sniffer failure → count heuristic
        ("x;y;;", "csv", ";"),
    ],
)
def test_detect_delimiter(sample, suffix, expected):
    assert detect_delimiter(sample, suffix) == expected


def test_load_table_memo_key_keeps_uri_scheme(monkeypatch, tmp_path):
    """Local directories share one memo key however they are spelled;
    a URI with a scheme keeps its ``//`` and gains no working
    directory."""
    from forest_open_data_pipelines_spark.sources.tables import _memo_dir

    assert _memo_dir("s3a://bucket/sf") == "s3a://bucket/sf"
    assert _memo_dir("hdfs://nn:8020/data/sf0.1/") == "hdfs://nn:8020/data/sf0.1"
    monkeypatch.chdir(tmp_path)
    assert _memo_dir("sf0.1") == _memo_dir(str(tmp_path / "sf0.1/"))
    assert _memo_dir("sf0.1") == str(tmp_path / "sf0.1")


# ── delimited / json round-trips ───────────────────────────────────────


def _orders_subset(spark):
    return (
        load_table(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    )


def test_read_delimited_roundtrip(spark, tmp_path):
    src = _orders_subset(spark)
    path = str(tmp_path / "orders_csv")
    src.write.option("header", True).option("sep", ";").csv(path)
    back = read_delimited(spark, path, schema=src.schema)
    assert back.count() == src.count()
    assert [f.name for f in back.schema.fields] == [f.name for f in src.schema.fields]
    assert (
        back.agg(F.sum("o_totalprice")).collect()[0][0]
        == pytest.approx(src.agg(F.sum("o_totalprice")).collect()[0][0])
    )


def test_read_json_lines_roundtrip(spark, tmp_path):
    src = _orders_subset(spark)
    path = str(tmp_path / "orders_json")
    src.write.json(path)
    back = read_json_lines(spark, path, schema=src.schema)
    assert back.count() == src.count()
    assert (
        back.agg(F.sum("o_totalprice")).collect()[0][0]
        == pytest.approx(src.agg(F.sum("o_totalprice")).collect()[0][0])
    )


def test_profile_files(spark):
    prof = profile_files(spark, f"{SF_DIR}/*.parquet").collect()
    names = [r.file_name for r in prof]
    assert "lineitem.parquet" in names and "orders.parquet" in names
    for r in prof:
        assert r.format == "parquet"
        assert r.size_bytes > 0
        assert len(r.sha256) == 64


def test_profile_table_files(spark):
    orders = load_table(spark, SF_DIR, "orders")
    prof = profile_table_files(orders).collect()
    assert sum(r.n_rows for r in prof) == orders.count()


# ── sinks ──────────────────────────────────────────────────────────────


def test_write_partitioned_prunes(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["year"])
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    pruned = back.where(F.col("year") == 1996)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(year" in plan
    assert pruned.count() == orders.where(F.col("year") == 1996).count()


def test_write_incremental_by_year_replaces_only_written_year(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_incr")
    write_incremental_by_year(orders, path, "o_orderdate")
    full = spark.read.parquet(path)
    total = full.count()
    y1996 = full.where(F.col("year") == 1996).count()

    # Rewrite ONLY 1996 with a filtered subset — other years untouched.
    half_1996 = orders.where(
        (F.year("o_orderdate") == 1996) & (F.col("o_orderkey") % 2 == 0)
    )
    write_incremental_by_year(half_1996, path, "o_orderdate", years=[1996])
    after = spark.read.parquet(path)
    assert after.where(F.col("year") != 1996).count() == total - y1996
    assert after.where(F.col("year") == 1996).count() == half_1996.count()


def test_bucketed_join_skips_exchange(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed_table(
        orders, "orders_b", "o_orderkey", 8, path=str(tmp_path / "orders_b")
    )
    write_bucketed_table(
        lineitem.select("l_orderkey", "l_quantity"),
        "lineitem_b",
        "l_orderkey",
        8,
        path=str(tmp_path / "lineitem_b"),
    )
    ob, lb = spark.table("orders_b"), spark.table("lineitem_b")
    joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey).where(
        F.col("l_quantity").isNotNull()
    )
    # Force a sort-merge path so bucket co-location is what avoids the
    # exchanges (a broadcast join would hide it at this tiny SF).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert joined.count() == orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey
    ).count()


def test_nanos_to_micros_ts_floors_pre_epoch(spark):
    from datetime import datetime, timezone

    from forest_open_data_pipelines_spark.sources.tables import nanos_to_micros_ts

    nanos = [-1500, -1000, -999, -1, 0, 1, 999, 1000, 1500, 1_700_000_000_123_456_789]
    df = spark.createDataFrame([(n,) for n in nanos], "ts long").select(
        nanos_to_micros_ts(F.col("ts")).alias("ts")
    )
    got = [r.ts.replace(tzinfo=timezone.utc).timestamp() for r in df.collect()]
    # floor(n / 1000) micros, as a float epoch-seconds check
    expect_micros = [-2, -1, -1, -1, 0, 0, 0, 1, 1, 1_700_000_000_123_456]
    assert got == [m / 1e6 for m in expect_micros]


def _write_zip(path, member_rows, encoding="utf-8", delimiter=";", extra_members=()):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for name, text in extra_members:
            zf.writestr(name, text)
        header, *rows = member_rows
        body = "\n".join(delimiter.join(r) for r in [header, *rows])
        zf.writestr("data/detections_2024.csv", body.encode(encoding))


def test_read_zipped_csv_matches_plain_reader(spark, tmp_path):
    from forest_open_data_pipelines_spark.sources.archives import read_zipped_csv

    rows = [
        ["uf", "bioma", "focos"],
        ["São Paulo", "Mata Atlântica", "12"],
        ["Pará", "Amazônia", "340"],
    ]
    _write_zip(
        tmp_path / "a.zip",
        rows,
        encoding="latin-1",
        delimiter=";",
        extra_members=[
            ("readme.json", "{}"),  # non-CSV member must be skipped
            ("zz_later.csv", "x;y\n1;2"),  # sorts AFTER data/, not picked
        ],
    )
    plain = tmp_path / "plain.csv"
    plain.write_text("\n".join(";".join(r) for r in rows), encoding="utf-8")

    got = (
        read_zipped_csv(spark, str(tmp_path / "*.zip"), ["uf", "bioma", "focos"])
        .orderBy("uf")
        .collect()
    )
    expect = (
        spark.read.option("header", True)
        .option("sep", ";")
        .csv(str(plain))
        .orderBy("uf")
        .collect()
    )
    assert [(r.uf, r.bioma, r.focos) for r in got] == [
        (r.uf, r.bioma, r.focos) for r in expect
    ]
    assert all(r._archive == "a.zip" for r in got)


def test_read_zipped_csv_missing_column_yields_nulls(spark, tmp_path):
    from forest_open_data_pipelines_spark.sources.archives import read_zipped_csv

    _write_zip(tmp_path / "b.zip", [["uf", "focos"], ["BA", "7"]])
    got = read_zipped_csv(
        spark, str(tmp_path / "*.zip"), ["uf", "bioma", "focos"]
    ).collect()
    assert len(got) == 1 and got[0].bioma is None and got[0].focos == "7"


def test_profile_archives_detection(spark, tmp_path):
    from forest_open_data_pipelines_spark.sources.archives import profile_archives

    _write_zip(tmp_path / "semi.zip", [["a", "b"], ["1", "2"], ["3", "4"]])
    _write_zip(
        tmp_path / "comma.zip",
        [["x", "y", "z"], ["1", "2", "3"]],
        delimiter=",",
    )
    rows = {r.archive: r for r in profile_archives(spark, str(tmp_path / "*.zip")).collect()}
    assert rows["semi.zip"].delimiter == ";"
    assert rows["semi.zip"].n_rows == 2
    assert rows["comma.zip"].delimiter == ","
    assert rows["comma.zip"].columns == "x,y,z"
    assert rows["semi.zip"].member == "data/detections_2024.csv"


def test_pick_archive_member_rules():
    from forest_open_data_pipelines_spark.sources.archives import pick_archive_member

    assert (
        pick_archive_member(["dir/", "b.TXT", "a.csv", "notes.json"]) == "a.csv"
    )
    with pytest.raises(FileNotFoundError):
        pick_archive_member(["only.json", "dir/"])


# ── xlsx ingestion (profiling.py:300-318 parity, stdlib parser) ────────


def _write_xlsx(path, sheets, shared=None):
    """Minimal OOXML workbook. ``sheets`` = [(name, rows)] in TAB order;
    sheet XML filenames are deliberately REVERSED vs tab order so
    first-sheet resolution must go through workbook.xml + rels, not
    filename sort. ``shared`` strings are referenced as ("s", idx);
    plain tuples ("n"|"str"|"b"|"inline", text) pick the cell type."""
    import zipfile

    n = len(sheets)

    def cell(ref, kind, text):
        if kind == "inline":
            return f'<c r="{ref}" t="inlineStr"><is><t>{text}</t></is></c>'
        if kind == "s":
            return f'<c r="{ref}" t="s"><v>{text}</v></c>'
        if kind == "b":
            return f'<c r="{ref}" t="b"><v>{text}</v></c>'
        if kind == "str":
            return f'<c r="{ref}" t="str"><v>{text}</v></c>'
        return f'<c r="{ref}"><v>{text}</v></c>'

    def sheet_xml(rows):
        body = []
        for i, row in enumerate(rows, start=1):
            cells = "".join(
                cell(f"{chr(ord('A') + j)}{i}", kind, text)
                for j, (kind, text) in enumerate(row)
                if kind is not None
            )
            body.append(f"<row r=\"{i}\">{cells}</row>")
        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        return (
            f'<worksheet xmlns="{ns}"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )

    mns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pns = "http://schemas.openxmlformats.org/package/2006/relationships"
    sheet_tags = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheets)
    )
    workbook = (
        f'<workbook xmlns="{mns}" xmlns:r="{rns}">'
        f"<sheets>{sheet_tags}</sheets></workbook>"
    )
    # tab i -> file sheet{n-i}.xml (reversed on purpose)
    rels = "".join(
        f'<Relationship Id="rId{i + 1}" Type="{rns}/worksheet" '
        f'Target="worksheets/sheet{n - i}.xml"/>'
        for i in range(n)
    )
    rels_xml = f'<Relationships xmlns="{pns}">{rels}</Relationships>'
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", rels_xml)
        if shared is not None:
            sst = "".join(f"<si><t>{s}</t></si>" for s in shared)
            zf.writestr(
                "xl/sharedStrings.xml", f'<sst xmlns="{mns}">{sst}</sst>'
            )
        for i, (_, rows) in enumerate(sheets):
            zf.writestr(f"xl/worksheets/sheet{n - i}.xml", sheet_xml(rows))


def test_read_excel_first_sheet_types_and_contract(spark, tmp_path):
    from forest_open_data_pipelines_spark.sources.excel import read_excel

    _write_xlsx(
        tmp_path / "wb.xlsx",
        sheets=[
            (
                "main",
                [
                    [("s", "0"), ("s", "1"), ("inline", "flag")],
                    [("s", "2"), ("n", "340"), ("b", "1")],
                    [("inline", "Cerrado"), ("n", "12.5"), ("b", "0")],
                    # sparse row: bioma missing entirely
                    [("s", "3"), (None, None), ("b", "1")],
                ],
            ),
            ("ignored", [[("inline", "WRONG")]]),
        ],
        shared=["bioma", "focos", "Amazônia", "Pantanal"],
    )
    got = read_excel(
        spark, str(tmp_path / "*.xlsx"), ["bioma", "focos", "flag", "extra"]
    ).orderBy("bioma").collect()
    assert [(r.bioma, r.focos, r.flag, r.extra) for r in got] == [
        ("Amazônia", "340", "TRUE", None),
        ("Cerrado", "12.5", "FALSE", None),
        ("Pantanal", None, "TRUE", None),
    ]
    assert all(r._workbook == "wb.xlsx" for r in got)


def test_profile_excel_shapes(spark, tmp_path):
    from forest_open_data_pipelines_spark.sources.excel import profile_excel

    _write_xlsx(
        tmp_path / "one.xlsx",
        sheets=[("s", [[("inline", "a"), ("inline", "b")], [("n", "1"), ("n", "2")]])],
    )
    _write_xlsx(
        tmp_path / "two.xlsx",
        sheets=[("s", [[("inline", "x")], [("n", "1")], [("n", "2")]])],
    )
    rows = {
        r.workbook: r
        for r in profile_excel(spark, str(tmp_path / "*.xlsx")).collect()
    }
    assert rows["one.xlsx"].row_count == 1
    assert rows["one.xlsx"].column_count == 2
    assert rows["one.xlsx"].columns == "a,b"
    assert rows["two.xlsx"].row_count == 2
    assert rows["two.xlsx"].columns == "x"


def test_ntz_retag_is_timezone_independent(spark, tmp_path):
    """ADVICE r3: the NTZ→LTZ retag must yield the same epoch instant on
    any caller session timezone, not just UTC."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from forest_open_data_pipelines_spark.sources.tables import load_table

    # timestamp[us] parquet (no tz) surfaces in Spark as TIMESTAMP_NTZ.
    wall = datetime(2024, 6, 1, 12, 0, 0)
    want = wall.replace(tzinfo=timezone.utc).timestamp()
    tdir = tmp_path / "sfntz"
    tdir.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([wall], pa.timestamp("us")),
            }
        ),
        tdir / "events.parquet",
    )

    def instant(session):
        df = load_table(session, str(tdir), "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp"
        [row] = df.select(F.unix_micros("ts").alias("us")).collect()
        return row.us / 1e6

    assert instant(spark) == want  # UTC session: plain retag
    offset_session = spark.newSession()
    offset_session.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    try:
        assert instant(offset_session) == want  # non-UTC session: same instant
    finally:
        offset_session.conf.set("spark.sql.session.timeZone", "UTC")


def test_orc_roundtrip_pushdown(spark, tmp_path):
    """ORC round-trip preserves values and the read side gets filter
    pushdown + column pruning like parquet."""
    from forest_open_data_pipelines_spark.sinks.writers import write_orc
    from forest_open_data_pipelines_spark.sources.formats import read_orc

    df = _orders_subset(spark)
    path = str(tmp_path / "orders_orc")
    write_orc(df, path, partition_cols=["o_orderstatus"])
    back = read_orc(spark, path)
    assert sorted(map(tuple, back.select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )
    plan = (
        back.where(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice" in plan


def test_spread_fans_out_small_scans_and_noops_when_wide(spark, tmp_path):
    """spread() must round-robin a single-split source up to the
    default parallelism, leave an already-wide frame untouched, and
    never change row contents."""
    from forest_open_data_pipelines_spark.sources.tables import spread

    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    out = spread(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(1000))
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    assert spread(wide) is wide  # no-op above the guard


def test_snapshot_diff_on_bucketed_tables_skips_exchange(spark, tmp_path):
    """corpus_snapshot_diff's scale claim, tied to evidence: over two
    doc_id-bucketed snapshot tables the FULL OUTER diff join plans
    with NO Exchange (bucket co-location replaces the shuffle), and
    the statuses equal the unbucketed run row-for-row."""
    from forest_open_data_pipelines_spark.operators.dedup import (
        corpus_snapshot_diff,
        wrap_documents_as_snapshot_b,
    )

    docs = load_table(spark, SF_DIR, "documents")
    snap_b = wrap_documents_as_snapshot_b(docs)
    write_bucketed_table(
        docs, "snap_a_b", "doc_id", 8, path=str(tmp_path / "snap_a")
    )
    write_bucketed_table(
        snap_b, "snap_b_b", "doc_id", 8, path=str(tmp_path / "snap_b")
    )
    diff = corpus_snapshot_diff(spark.table("snap_a_b"), spark.table("snap_b_b"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = diff._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    # the only exchange is the presentation sort's rangepartitioning —
    # no hash exchange feeds the join: bucket co-location replaced it
    assert "Exchange hashpartitioning" not in plan
    expected = corpus_snapshot_diff(docs, snap_b).collect()
    assert sorted(map(tuple, diff.collect())) == sorted(map(tuple, expected))


def _file_col_ranges(path: str, col: str) -> list[tuple]:
    """(min, max) per parquet data file under path, from the footers —
    the statistics the reader's file/row-group skipping actually uses."""
    import pathlib

    import pyarrow.parquet as pq

    out = []
    for f in sorted(pathlib.Path(path).glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == col
        )
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mns.append(st.min)
            mxs.append(st.max)
        out.append((min(mns), max(mxs)))
    return out


def test_sorted_layout_linear_disjoint_ranges(spark, tmp_path):
    """Linear range-sort layout: per-file min/max of the sort column
    must be (near-)disjoint — the footer property that lets a pushed
    filter skip whole files — and the rows must round-trip."""
    from forest_open_data_pipelines_spark.sinks import write_sorted_layout

    li = load_table(spark, SF_DIR, "lineitem")
    out = str(tmp_path / "li_sorted")
    write_sorted_layout(li, out, ["l_shipdate"], n_files=8)

    ranges = sorted(_file_col_ranges(out, "l_shipdate"))
    assert len(ranges) >= 4  # range partitioner actually split the data
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next >= hi_prev  # disjoint up to boundary-value ties
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    cut = "1995-06-30"
    got = back.where(F.col("l_shipdate") <= cut).count()
    assert got == li.where(F.col("l_shipdate") <= cut).count()


def test_zorder_layout_tight_on_both_dims(spark, tmp_path):
    """Z-order vs linear sort on (l_orderkey, l_partkey): linear leaves
    every file spanning ~the whole l_partkey domain (no skipping on the
    second column); the Morton layout must cover a small rectangle in
    BOTH dimensions, so filters on either column skip most files."""
    from forest_open_data_pipelines_spark.sinks import write_sorted_layout

    li = load_table(spark, SF_DIR, "lineitem")
    cols = ["l_orderkey", "l_partkey"]
    lin, zo = str(tmp_path / "lin"), str(tmp_path / "zo")
    write_sorted_layout(li, lin, cols, n_files=16)
    write_sorted_layout(li, zo, cols, n_files=16, zorder=True)

    def mean_width_fraction(path: str, col: str) -> float:
        ranges = _file_col_ranges(path, col)
        lo = min(r[0] for r in ranges)
        hi = max(r[1] for r in ranges)
        return sum((r[1] - r[0]) / (hi - lo) for r in ranges) / len(ranges)

    # linear: second column un-clustered (each file ~ full domain)
    assert mean_width_fraction(lin, "l_partkey") > 0.85
    # z-order: both dimensions tight enough to skip most files
    assert mean_width_fraction(zo, "l_orderkey") < 0.6
    assert mean_width_fraction(zo, "l_partkey") < 0.6
    # and strictly better than linear on the second dimension
    assert mean_width_fraction(zo, "l_partkey") < mean_width_fraction(
        lin, "l_partkey"
    )
    back = spark.read.parquet(zo)
    assert back.count() == li.count()
    dec = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))  # order-invariant
    assert back.agg(dec).first()[0] == li.agg(dec).first()[0]


def test_compact_parquet_binpacks_small_files(spark, tmp_path):
    """64 tiny files in, ceil(total/target) evenly-sized files out,
    rows intact — the standing small-file maintenance job."""
    import math
    import pathlib

    from forest_open_data_pipelines_spark.sinks import (
        compact_parquet,
        parquet_data_file_sizes,
    )

    li = load_table(spark, SF_DIR, "lineitem")
    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    li.repartition(64).write.parquet(src)
    sizes = parquet_data_file_sizes(spark, src)
    assert len(sizes) == 64
    target_mb = 0.1
    n = compact_parquet(spark, src, dst, target_mb=target_mb)
    assert n == max(1, math.ceil(sum(sizes.values()) / (target_mb * 1024 * 1024)))
    out_sizes = parquet_data_file_sizes(spark, dst)
    assert len(out_sizes) == n
    assert 2 <= n < 64
    # full-shuffle repartition → evenly sized outputs
    assert max(out_sizes.values()) < 3 * min(out_sizes.values())
    assert spark.read.parquet(dst).count() == li.count()


def test_zorder_exact_bucketing_on_wide_domains(spark, tmp_path):
    """The Morton bucket must be exact integer arithmetic: on a domain
    spanning ~2^60 (where a double scale factor mis-buckets past 2^53
    and a multiply-first formulation overflows a long), the min row
    keys to 0 and the max row keys to the all-ones 32-bit pattern."""
    from forest_open_data_pipelines_spark.sinks.layout import _zorder_key

    lo, hi = -(1 << 59), (1 << 59) + 12345
    df = spark.createDataFrame([(lo, lo), (hi, hi), (lo, hi)], "a long, b long")
    keys = {
        (r["a"], r["b"]): r["k"]
        for r in df.withColumn("k", _zorder_key(df, ["a", "b"])).collect()
    }
    assert keys[(lo, lo)] == 0
    assert keys[(hi, hi)] == (1 << 32) - 1
    assert keys[(lo, hi)] == int("01" * 16, 2)  # b-bits only, interleaved


def test_zorder_rejects_non_integral_and_empty(spark, tmp_path):
    from forest_open_data_pipelines_spark.sinks import write_sorted_layout

    li = load_table(spark, SF_DIR, "lineitem")
    with pytest.raises(ValueError, match="integral"):
        write_sorted_layout(
            li, str(tmp_path / "bad"), ["l_shipdate", "l_partkey"], zorder=True
        )
    with pytest.raises(ValueError, match="no rows"):
        write_sorted_layout(
            li.where(F.lit(False)),
            str(tmp_path / "empty"),
            ["l_orderkey", "l_partkey"],
            zorder=True,
        )


def test_compact_parquet_rejects_empty_source(spark, tmp_path):
    from forest_open_data_pipelines_spark.sinks import compact_parquet

    src = tmp_path / "no_data"
    src.mkdir()
    (src / "_SUCCESS").write_text("")
    with pytest.raises(ValueError, match="no parquet data files"):
        compact_parquet(spark, str(src), str(tmp_path / "out"))


def test_read_json_lines_quarantined_splits_bad_rows(spark, tmp_path):
    """One malformed line must neither kill the scan nor vanish: it
    lands in the quarantine frame with its raw text, and the good rows
    parse normally."""
    from pyspark.sql.types import LongType, StringType, StructType

    from forest_open_data_pipelines_spark.sources.formats import (
        read_json_lines_quarantined,
    )

    src = tmp_path / "jsonl"
    src.mkdir()
    (src / "a.json").write_text(
        '{"id": 1, "name": "ok"}\n'
        '{"id": 2, "name": "also ok"}\n'
        '{"id": 3, "name": BROKEN}\n'
    )
    schema = StructType().add("id", LongType()).add("name", StringType())
    good, bad = read_json_lines_quarantined(spark, str(src), schema)
    try:
        assert sorted((r.id, r.name) for r in good.collect()) == [
            (1, "ok"),
            (2, "also ok"),
        ]
        (bad_row,) = bad.collect()
        assert "BROKEN" in bad_row.raw_record
    finally:
        from forest_open_data_pipelines_spark.runtime import release_persisted

        assert release_persisted() >= 1


def test_read_delimited_quarantined_bad_casts(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructType

    from forest_open_data_pipelines_spark.sources.formats import (
        read_delimited_quarantined,
    )

    src = tmp_path / "csvq"
    src.mkdir()
    (src / "a.csv").write_text("id,name\n1,ok\nnot_a_number,broken\n2,fine\n")
    schema = StructType().add("id", LongType()).add("name", StringType())
    good, bad = read_delimited_quarantined(spark, str(src), schema)
    try:
        assert sorted((r.id, r.name) for r in good.collect()) == [
            (1, "ok"),
            (2, "fine"),
        ]
        (bad_row,) = bad.collect()
        assert "not_a_number" in bad_row.raw_record
    finally:
        from forest_open_data_pipelines_spark.runtime import release_persisted

        assert release_persisted() >= 1


def test_read_parquet_merged_schema_evolution(spark, tmp_path):
    """Files written before a column existed read as NULL in that
    column under mergeSchema — no failure, no silent drop."""
    from forest_open_data_pipelines_spark.sources.formats import read_parquet_merged

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.mode("append").parquet(path)
    merged = read_parquet_merged(spark, path)
    assert set(merged.columns) == {"id", "name", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows[1] is None and rows[2] == 9.5
