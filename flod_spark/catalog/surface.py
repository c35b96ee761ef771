"""Reference-surface operators (SURVEY.md §2.1-2.3) as driver queries.

Each qkey mirrors a flod stage; oracles are exact ANSI-SQL twins. Order-
sensitive ops use a declared total order (SURVEY §4.2-1) so results are
deterministic on an unordered engine.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flod_spark.io import dir_has_parquet, load, recover_swap_dir, serve_and_cleanup
from flod_spark.registry import query
from flod_spark.streaming.gate import drain, spool

# --------------------------------------------------------------- sources

@query("scan_file", oracle="SELECT * FROM nation")
def scan_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 read()/FileReader (file.d:14-34): raw file scan -> parquet scan.
    Scale: columnar pruning + predicate pushdown make this the only sane
    100 TB entry point; verified via .explain in tests/test_plans.py."""
    return load(spark, sf_dir, "nation")


@query(
    "scan_array",
    oracle="SELECT CAST(i AS BIGINT) AS seq, CAST(i * i AS BIGINT) AS value "
    "FROM range(0, 256) t(i)",
)
def scan_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ArraySource/pipeFromArray (range.d:25-45): in-memory array
    source. Scale: parallelized from the driver — by definition a
    small-collection entry point (flod's tests use it the same way);
    big inputs enter via scan_file."""
    rows = [(i, i * i) for i in range(256)]
    return spark.createDataFrame(rows, "seq long, value long")


@query(
    "scan_range",
    oracle="SELECT CAST(i AS BIGINT) AS value FROM range(0, 100000, 7) t(i)",
)
def scan_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 pipeFromInputRange (range.d:58-87): lazy numeric range.
    spark.range is a parallel Range scan — no driver materialization, scales
    to any length (flod's infinite-range analog is streaming rate source).

    Scale: spark.range plans a parallel Range scan — no driver data,
    length-independent."""
    return spark.range(0, 100000, 7).select(F.col("id").alias("value"))


@query(
    "scan_delegate",
    oracle="SELECT CAST(i AS BIGINT) AS seq, CAST((i * 2654435761) % 2147483648 AS BIGINT) AS value "
    "FROM range(0, 4096) t(i)",
)
def scan_delegate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 DelegateSource/pass!(E,fun) (range.d:169-189, 264-268): a driver
    callback produces elements. Batch analog: generator -> Arrow batches.

    Scale: the shim materializes the generator driver-side (bounded
    inputs only); scan_pysource is the zero-materialization production
    form."""
    def gen():
        for i in range(4096):
            yield (i, (i * 2654435761) % 2147483648)

    return spark.createDataFrame(list(gen()), "seq long, value long")


@query(
    "scan_queue",
    oracle="SELECT CAST(i AS BIGINT) AS seq, CAST(i * 3 + 1 AS BIGINT) AS value "
    "FROM range(0, 1000) t(i)",
)
def scan_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 OutputRangeSource (range.d:211-237): caller put()s chunks in;
    snapshot becomes the batch. Streaming twin: streaming/queue.py.

    Scale: the snapshot is one createDataFrame of the queued chunks;
    stream_queue_live is the unbounded form."""
    from flod_spark.pipeline import Queue

    q = Queue(spark)
    for c in range(10):
        q.put(range(c * 100 * 3 + 1, (c + 1) * 100 * 3 + 1, 3))
    return q.snapshot().df


# --------------------------------------------------------------- filters

@query(
    "take_limit",
    oracle=(
        "SELECT * FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber, l_extendedprice LIMIT 1000"
    ),
)
def take_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 take(n) (package.d:114-199) on the declared total order
    ((l_orderkey, l_linenumber) alone is NOT unique in this data — the
    price column completes the total order, SURVEY §4.2-1).
    Catalyst plans TakeOrderedAndProject: per-partition top-n then a single
    O(n) merge — no full sort at 100 TB.

    Scale: TakeOrderedAndProject — per-partition top-n plus one O(n)
    merge; no full sort at any size."""
    li = load(spark, sf_dir, "lineitem")
    return li.orderBy("l_orderkey", "l_linenumber", "l_extendedprice").limit(1000)


@query(
    "by_line",
    oracle=(
        "SELECT doc_id, CAST(generate_subscripts(parts, 1) AS BIGINT) AS line_no, "
        "unnest(parts) AS line "
        "FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents)"
    ),
)
def by_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 byLine/Splitter (range.d:359-515): split char stream into lines.
    Final unterminated line kept (range.d:407-419) — Spark split(…,-1) and
    DuckDB string_split agree on trailing-empty semantics.
    Scale: narrow op (no shuffle); generated rows stay in the parent task."""
    docs = load(spark, sf_dir, "documents")
    parts = F.split(F.col("text"), "\n", -1)
    return docs.select(
        "doc_id",
        F.posexplode(parts).alias("_pos", "line"),
    ).select(
        "doc_id",
        (F.col("_pos") + 1).cast("long").alias("line_no"),
        "line",
    )


@query(
    "by_chunk",
    oracle=(
        "WITH s AS (SELECT l_orderkey, l_linenumber, l_extendedprice, "
        "  row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice) - 1 AS seq FROM lineitem) "
        "SELECT seq // 512 AS chunk_id, COUNT(*) AS n, "
        "  MIN(l_orderkey) AS first_key, MAX(l_orderkey) AS last_key, "
        "  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS chunk_price "
        "FROM s GROUP BY chunk_id"
    ),
)
def by_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F4 byChunk(n) (range.d:549-624): regroup ordered stream into
    fixed 512-element chunks (last partial), one summary row per chunk.
    Uses seq.with_seq — range shuffle + per-partition rank, never a
    single-partition global window (scale note in seq.py).

    Scale: with_seq's bucketed rank plan (one range exchange); never a
    single-partition window."""
    from flod_spark.seq import with_seq

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    s = with_seq(li, "l_orderkey", "l_linenumber", "l_extendedprice")
    return (
        s.withColumn("chunk_id", F.expr("seq div 512"))
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n"),
            F.min("l_orderkey").alias("first_key"),
            F.max("l_orderkey").alias("last_key"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("chunk_price"),
        )
    )


@query(
    "by_chunk_arrays",
    oracle=(
        "WITH s AS (SELECT l_orderkey, "
        "  row_number() OVER (ORDER BY l_orderkey, l_linenumber, l_extendedprice) - 1 AS seq "
        "  FROM lineitem) "
        "SELECT seq // 512 AS seq_chunk, COUNT(*) AS n, "
        "  string_agg(l_orderkey::VARCHAR, ',' ORDER BY seq) AS value "
        "FROM s GROUP BY seq_chunk"
    ),
)
def by_chunk_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 byChunk's TRUE element type (range.d:549-581): the stream's
    element type changes from E to E[] — each 512-element chunk becomes ONE
    element whose value is the array of its members in stream order; seq
    becomes the chunk index (Pipeline.by_chunk_arrays is the façade form).
    Arrays are emitted as joined strings because the compare layer cannot
    sort array cells (same convention as array_fns).
    Scale: one hash exchange on chunk_id; group size bounded at 512 by
    construction, so collect_list memory is bounded."""
    from flod_spark.seq import with_seq

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    s = with_seq(li, "l_orderkey", "l_linenumber", "l_extendedprice")
    return (
        s.withColumn("seq_chunk", F.expr("seq div 512"))
        .groupBy("seq_chunk")
        .agg(
            F.count("*").alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "l_orderkey"))).getField("l_orderkey"),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("value"),
        )
    )


@query("by_element", oracle="SELECT * FROM part ORDER BY p_partkey LIMIT 500")
def by_element(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ByElement / entry point B (pipeline.d:467-470, range.d:309-340):
    pipeline as lazy input range. toLocalIterator pulls partition-at-a-time
    (bounded driver memory); we re-create a DataFrame from the consumed
    prefix to prove round-trip fidelity.

    Scale: toLocalIterator streams partition-at-a-time — driver memory
    bounded by one partition, the F5 contract by design."""
    part = load(spark, sf_dir, "part").orderBy("p_partkey")
    it = part.toLocalIterator()
    rows = [next(it) for _ in range(min(500, part.count()))]
    return spark.createDataFrame(rows, part.schema)


@query(
    "adapter_noop",
    oracle="SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def adapter_noop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6-F17 protocol adapters (adapter.d:12-580) are identity on data —
    flod's physical glue between pull/peek/push/alloc. Spark's analog is
    Catalyst's EnsureRequirements inserting exchanges; the user-visible knob
    is repartition, which must not change results (asserted here).

    Scale: identity on data; Catalyst's EnsureRequirements owns the
    physical exchanges, so the adapter itself costs nothing at any
    scale."""
    li = load(spark, sf_dir, "lineitem")
    return li.repartition(16, "l_returnflag").groupBy("l_returnflag").agg(F.count("*").alias("n"))


# ----------------------------------------------------------------- sinks

@query("sink_collect", oracle="SELECT * FROM supplier")
def sink_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 array()/ArraySink (package.d:69-112): materialize to driver and
    back — round-trip proves schema + value fidelity. (At 100 TB one never
    collects; the sink becomes write_parquet. Kept tiny here by design.)

    Scale: driver materialization IS the K3 contract (capped input by
    design); write_parquet is the scale sink."""
    sup = load(spark, sf_dir, "supplier")
    rows = sup.collect()
    return spark.createDataFrame(rows, sup.schema)


@query("sink_discard", oracle="SELECT COUNT(*) AS n_written FROM lineitem")
def sink_discard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 discard()/NullSink (package.d:43-66): consume & drop. Spark noop
    write exercises the full pipeline without a sink cost.

    Scale: the noop sink runs the full distributed plan with zero sink
    cost — the measurement-harness shape."""
    li = load(spark, sf_dir, "lineitem")
    li.write.format("noop").mode("overwrite").save()
    return li.agg(F.count("*").alias("n_written"))


@query("sink_file", oracle="SELECT * FROM orders")
def sink_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 write()/FileWriter (file.d:36-67): write + read-back round-trip
    (mirrors the reference's /etc/passwd round-trip test file.d:69-84).

    Scale: distributed parquet write, one file per task; the read-back
    keeps pushdown intact."""
    orders = load(spark, sf_dir, "orders")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/orders_roundtrip.parquet"
        orders.write.mode("overwrite").parquet(path)
        back = spark.read.parquet(path).localCheckpoint(eager=True)  # materialize before tmpdir vanishes
        return back


@query("sink_copy", oracle="SELECT * FROM region")
def sink_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 copy(target)/RangeSink (range.d:133-167): stream into a caller
    output range via partition-at-a-time iteration.

    Scale: partition-at-a-time iteration — the driver holds one
    partition at a time, the K4 streaming contract."""
    region = load(spark, sf_dir, "region")
    target: list = []
    for row in region.toLocalIterator():
        target.append(row)
    return spark.createDataFrame(target, region.schema)


@query(
    "scan_binary",
    oracle=(
        "SELECT CAST(size AS BIGINT) AS length, md5(hex(content)) AS content_md5 "
        "FROM read_blob('/root/repo/FIXTURES.md')"
    ),
)
def scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 read()/FileReader (file.d:14-34) in its RAWEST form: the
    reference reads files as untyped ubyte streams; Spark's analog is the
    binaryFile source (whole file -> one binary row). Both engines hash
    the same fixed repo file at gate time (sf-independent by design —
    raw-byte scanning has no scale factor). At 100 TB the binaryFile
    source is the media-ingest entry point: one task per file, rows
    carry (path, length, content) and downstream stages drop bytes
    early (see catalog/media.py).

    Scale: one task per file; raw bytes drop before any shuffle
    (catalog/media.py discipline)."""
    df = spark.read.format("binaryFile").load("/root/repo/FIXTURES.md")
    return df.select(
        F.col("length"),
        F.md5(F.hex(F.col("content")).cast("binary")).alias("content_md5"),
    )


@query(
    "by_line_sep",
    oracle=(
        # flod Splitter contract on a LITERAL multi-char separator with
        # keep-terminator (range.d:359-515, behavior tests range.d:470-483):
        # every element but an unterminated final one gets the separator
        # re-appended; a terminated-end marker (trailing empty) is dropped.
        "WITH p AS (SELECT doc_id, string_split(text, '. ') AS parts FROM documents), "
        "u AS (SELECT doc_id, unnest(parts) AS line, "
        "    generate_subscripts(parts, 1) AS pos, len(parts) AS n FROM p) "
        "SELECT doc_id, CAST(pos AS BIGINT) AS line_no, "
        "  CASE WHEN pos < n THEN line || '. ' ELSE line END AS line "
        "FROM u WHERE pos < n OR line <> ''"
    ),
)
def by_line_sep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 byLine/Splitter with a multi-char separator containing a regex
    metachar ('. ') plus keep_terminator=True — the full Splitter contract
    (range.d:359-515), routed through the Pipeline façade so the driver
    gate exercises pipeline.py's \\Q…\\E literal-quoting of the separator.
    Scale: narrow op, rows stay in the parent task (same as by_line)."""
    from flod_spark.pipeline import Pipeline

    docs = load(spark, sf_dir, "documents")
    p = Pipeline(docs.select("doc_id", F.col("text").alias("value")))
    out = p.by_line(". ", keep_terminator=True).df
    return out.select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        F.col("value").alias("line"),
    )


# Element-width byLine (range.d:367-371): flod picks the split unit from
# the stream's element type — char (1B) / wchar (2B, UTF-16) / dchar (4B,
# UTF-32); its tests split Polish verse in all three widths
# (range.d:529-547) and a \r\n wstring (range.d:513-515). Planted blobs,
# sf-independent like scan_binary: flod's own Polish verse plus Korean,
# in BOTH widths, plus a trap doc containing U+010A ('Ċ') whose LOW BYTE
# is 0x0A — a byte-level splitter would cut it; the element-width
# splitter must not.
_WIDE_TEXTS = (
    (
        "pl",
        "Prześliczna dzieweczka na spacer raz szła\n"
        "Gdy noc ją złapała wietrzysta i zła\n"
        "Być może przestraszył by ziąb i mrok ją\n"
        "Lecz miałą wszak mufkę prześliczną swą\n",
    ),
    ("ko", "안녕하세요 세계\n줄 두 번째\n"),
    ("trap", "przedĊpo\nostatnia"),
)
_WIDE_BLOBS = tuple(
    (f"{name}{width}", width, txt.encode(f"utf-{8 * width}-le"))
    for name, txt in _WIDE_TEXTS
    for width in (2, 4)
)


def _wide_oracle() -> str:
    vals = ", ".join(
        f"('{bid}', {w}, '{blob.hex()}')" for bid, w, blob in _WIDE_BLOBS
    )
    return (
        f"WITH raw AS (SELECT * FROM (VALUES {vals}) t(blob_id, width, hx)), "
        # UTF-32LE -> UTF-16LE on the hex: each BMP unit is 'xxxx0000';
        # drop the zero high half (8-char alignment holds because every
        # planted unit matches)
        "h AS (SELECT blob_id, width, CASE WHEN width = 4 "
        "    THEN regexp_replace(hx, '([0-9a-f]{4})0000', '\\1', 'g') ELSE hx END AS hx16 "
        "  FROM raw), "
        # exact 2-byte-unit decoder: code point = b1*256 + b0 (LE)
        "s AS (SELECT blob_id, width, array_to_string(list_transform("
        "    range(0, length(hx16) // 4), "
        "    i -> chr(CAST('0x' || substr(hx16, 4*i + 3, 2) || substr(hx16, 4*i + 1, 2) "
        "             AS INTEGER))), '') AS dec FROM h), "
        "p AS (SELECT blob_id, width, string_split(dec, chr(10)) AS parts FROM s), "
        "u AS (SELECT blob_id, width, unnest(parts) AS line, "
        "    generate_subscripts(parts, 1) AS pos, len(parts) AS n FROM p) "
        "SELECT blob_id, CAST(width AS BIGINT) AS width, CAST(pos AS BIGINT) AS line_no, line "
        "FROM u WHERE pos < n OR line <> ''"
    )


@query("by_line_wide", oracle=_wide_oracle())
def by_line_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 byLine for WIDE element types (range.d:367-371): the separator
    is one ELEMENT (2-byte wchar / 4-byte dchar unit), never a byte, so
    U+010A survives and multibyte text round-trips — flod's wstring/
    dstring tests (range.d:511-547) re-expressed over binary blobs.
    Spark path: UTF-32LE folds to UTF-16LE by dropping each unit's zero
    high half in hex (BMP-only planted data), then the built-in
    decode(…,'UTF-16LE') + split — all JVM expressions, map-only, no
    shuffle; the oracle decodes 2-byte units arithmetically in SQL.
    Like scan_binary, sf-independent (raw bytes have no scale factor).

    Scale: map-only JVM decode + split; no shuffle, sf-independent raw
    bytes."""
    df = spark.createDataFrame(
        list(_WIDE_BLOBS), "blob_id string, width int, blob binary"
    )
    hx16 = F.when(
        F.col("width") == 4,
        F.regexp_replace(F.hex("blob"), "([0-9A-F]{4})0000", "$1"),
    ).otherwise(F.hex("blob"))
    parts = F.split(F.decode(F.unhex(hx16), "UTF-16LE"), "\n", -1)
    u = df.select(
        "blob_id",
        F.col("width").cast("long").alias("width"),
        F.posexplode(parts).alias("pos0", "line"),
        F.size(parts).alias("n"),
    )
    return u.filter((F.col("pos0") + 1 < F.col("n")) | (F.col("line") != "")).select(
        "blob_id", "width", (F.col("pos0") + 1).cast("long").alias("line_no"), "line"
    )


@query(
    "tag_roundtrip",
    oracle=(
        "SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
        "'docs_v1' AS source_tag FROM documents GROUP BY lang"
    ),
)
def tag_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag engine end-to-end (metadata.d:38-41 setter, :102-116 getter):
    a static tag set at the source survives a filter, a projection, and
    an aggregation boundary (Catalyst carries StructField metadata through
    all three), is read back by the nearest-upstream-setter rule, and is
    surfaced as a result column the oracle can check. The dynamic
    observe() path is asserted across a real action in
    tests/test_tags_engine.py (it needs a driver-side Observation handle,
    which the gate's query/oracle shape cannot carry).
    Scale: tags are schema metadata — zero row-data cost, no shuffle."""
    from flod_spark.tags import get_tag, set_tag

    docs = load(spark, sf_dir, "documents")
    tagged = set_tag(docs, "source", "docs_v1")
    t = tagged.filter(F.col("doc_id").isNotNull()).select("doc_id", "lang")
    val = get_tag(t, "source")  # nearest upstream setter, post-transform
    return (
        t.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .withColumn("source_tag", F.lit(val))
    )


@query(
    "scan_pysource",
    oracle=(
        "SELECT CAST(i AS BIGINT) AS seq, CAST(i * 7 + 1 AS BIGINT) AS value, "
        "CAST((i * 7 + 1) % 10 AS BIGINT) AS bucket FROM range(0, 5000) t(i)"
    ),
)
def scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 DelegateSource (range.d:169-189) as a FIRST-CLASS pluggable
    source via the Spark 4 Python DataSource API (sources/pygen.py):
    registered format, driver-side split planning (partitions()), each
    executor generating its slice locally — the production contract for
    wrapping any external generator/service as a scan, with zero driver
    materialization (scan_delegate shows the createDataFrame shim form).
    Closed-form arithmetic stream keeps it oracle-exact.

    Scale: driver plans splits, each executor generates its slice
    locally — zero driver materialization."""
    from flod_spark.sources import register_flodgen

    register_flodgen(spark)
    return (
        spark.read.format("flodgen")
        .option("n", 5000)
        .option("parts", 8)
        .load()
    )


# scan_archive grouping: members per archive (even groups pack as ZIP,
# odd as USTAR tar — both containers on one code path).
_ARCH_DOCS = 25


def _warc_records(data: bytes) -> list:
    """Parse plain (uncompressed) WARC bytes into (member, payload)
    pairs — stdlib-only: read CRLF headers to the blank line, take
    Content-Length payload bytes, skip the record separator, repeat.
    Only `WARC-Type: response` records yield members (warcinfo/request
    records are crawl plumbing); the member name is the
    WARC-Target-URI value. Per-record gzip members (.warc.gz) are out
    of scope here — decompress upstream or shard plain, as the fixture
    writer does."""
    pairs = []
    pos = 0
    while pos < len(data):
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        headers = {}
        for ln in data[pos:head_end].split(b"\r\n")[1:]:  # [0] is WARC/1.x
            k, _, v = ln.partition(b":")
            headers[k.strip().lower()] = v.strip()
        n = int(headers[b"content-length"])
        body = data[head_end + 4 : head_end + 4 + n]
        if headers.get(b"warc-type") == b"response":
            pairs.append((headers[b"warc-target-uri"].decode("utf-8"), body))
        pos = head_end + 4 + n + 4  # payload + \r\n\r\n separator
    return pairs


def archive_member_rows(raw: DataFrame, keep_content: bool = False) -> DataFrame:
    """(path, content) binary-file rows -> one row per archive MEMBER:
    (archive, member, n_bytes, content_md5) via an Arrow-batched stdlib
    zipfile/tarfile/WARC split — the engine half of scan_archive,
    shared by the batch scan, the streaming twin
    (stream_archive_members: the binaryFile source streams with an
    explicit schema), and the pack_tar_shards round-trip test. The
    container dispatches on the archive's LEADING MAGIC BYTES
    (PK\\x03\\x04 -> ZIP, WARC/ -> plain WARC, else tar), not the
    filename, so mixed crawl directories scan uniformly through one
    code path. Map-only; member blobs die here UNLESS ``keep_content``
    adds them as a binary column (the re-materialization path: ingest
    -> dedup -> repack needs the bytes downstream — pay for them only
    when asked); works identically on batch and streaming inputs
    (mapInPandas is stateless)."""
    import io
    import os
    import tarfile
    import zipfile

    def split(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            out_a, out_m, out_n, out_h, out_c = [], [], [], [], []
            for path, blob in zip(pdf["path"], pdf["content"]):
                name = os.path.basename(path)
                data = bytes(blob)
                bio = io.BytesIO(data)
                if data[:4] == b"PK\x03\x04":
                    with zipfile.ZipFile(bio) as z:
                        pairs = [(zi.filename, z.read(zi.filename)) for zi in z.infolist()]
                elif data[:5] == b"WARC/":
                    pairs = _warc_records(data)
                else:
                    with tarfile.open(fileobj=bio) as t:
                        pairs = [
                            (ti.name, t.extractfile(ti).read())
                            for ti in t.getmembers()
                            if ti.isfile()
                        ]
                for member, data in pairs:
                    out_a.append(name)
                    out_m.append(member)
                    out_n.append(len(data))
                    out_h.append(hashlib.md5(data).hexdigest())
                    if keep_content:
                        out_c.append(data)
            cols = {
                "archive": pd.Series(out_a, dtype="object"),
                "member": pd.Series(out_m, dtype="object"),
                "n_bytes": pd.Series(out_n, dtype="int64"),
                "content_md5": pd.Series(out_h, dtype="object"),
            }
            if keep_content:
                cols["content"] = pd.Series(out_c, dtype="object")
            yield pd.DataFrame(cols)

    schema = "archive string, member string, n_bytes long, content_md5 string"
    if keep_content:
        schema += ", content binary"
    return raw.select("path", "content").mapInPandas(split, schema)


def stream_archive_members(
    spark: SparkSession,
    archive_dir: str,
    max_files_per_trigger: int = 1,
    keep_content: bool = False,
) -> DataFrame:
    """STREAMING archive member scan — the live form of scan_archive
    (the roadmap row's literal reading: archives ARRIVE and their
    member sequences stream out): a binaryFile STREAM source (explicit
    schema — streaming binaryFile requires one; probed and pinned in
    tests/test_round11_ops.py) replays the directory
    ``max_files_per_trigger`` archives per trigger, and the shared
    member split runs map-side per micro-batch. Registered (r12) as
    stream_archive_live (oracle = scan_archive's: the split is
    stateless, so the member SET is arrival-order independent and the
    trigger grouping is purely a pacing knob).

    Scale: the crawl-dump ingestion shape — WARC/tar shards land in
    object storage, each trigger picks up new shards, the split is
    stateless map work, and downstream dedup/claim state is where
    bytes meet the pipeline."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(archive_dir)
    )
    return archive_member_rows(raw, keep_content=keep_content)


# tar-shard writer grouping: members per output shard (the WebDataset
# convention — training corpora ship as fixed-size tar shards).
_SHARD_DOCS = 50


def pack_tar_shards(
    docs: DataFrame,
    out_dir: str,
    shard_docs: int = _SHARD_DOCS,
    name_prefix: str = "shard_",
) -> DataFrame:
    """DISTRIBUTED tar-shard writer — the WRITE half of the archive
    story (WebDataset layout: training samples ship as fixed-size tar
    shards; this is how a 100 TB multimodal corpus is materialized for
    a dataloader): rows (doc_id, text) group by shard = doc_id //
    shard_docs, and EACH SHARD'S TASK writes its own tar
    (applyInPandas — one file per shard, written on the executor, no
    driver collect; at scale out_dir is object storage). Tar bytes are
    deterministic: members sorted by doc_id, USTAR format, zeroed
    mtime — two packs of the same table are byte-identical
    (pytest-pinned), which makes shard-level content addressing (etag
    dedup, cache keys) possible. Returns the manifest (shard, path,
    n_members, n_bytes) — the index a dataloader reads instead of
    listing the bucket. Registered (r12) as sink_tar_shards, gated by
    a round-trip oracle through archive_member_rows.

    Scale: one hash shuffle on the shard key, then map-side pack+write
    per shard; shard size is the parallelism knob (WebDataset uses
    ~100 MB-1 GB shards so tasks stream, not buffer)."""
    import io as _io
    import os as _os
    import tarfile as _tarfile

    import pandas as _pd

    os_makedirs = _os.makedirs
    os_makedirs(out_dir, exist_ok=True)

    def pack(key, pdf):
        (shard,) = key
        pdf = pdf.sort_values("doc_id")
        buf = _io.BytesIO()
        with _tarfile.open(fileobj=buf, mode="w", format=_tarfile.USTAR_FORMAT) as t:
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                b = str(text).encode("utf-8")
                ti = _tarfile.TarInfo(f"doc_{int(did):06d}.txt")
                ti.size = len(b)
                ti.mtime = 0
                t.addfile(ti, _io.BytesIO(b))
        data = buf.getvalue()
        path = _os.path.join(out_dir, f"{name_prefix}{int(shard):05d}.tar")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        _os.replace(tmp, path)  # atomic publish — retries overwrite, never tear
        return _pd.DataFrame(
            {
                "shard": _pd.Series([int(shard)], dtype="int64"),
                "path": _pd.Series([path], dtype="object"),
                "n_members": _pd.Series([len(pdf)], dtype="int64"),
                "n_bytes": _pd.Series([len(data)], dtype="int64"),
            }
        )

    shards = docs.select(
        "doc_id", "text", F.expr(f"doc_id div {shard_docs}").alias("shard")
    )
    return shards.groupBy("shard").applyInPandas(
        pack, "shard long, path string, n_members long, n_bytes long"
    )


def _archive_oracle() -> str:
    """Closed-form twin of the pack -> binaryFile -> member-split path:
    archive/member names are doc_id arithmetic (printf zero-pads, which
    never truncates — DuckDB lpad would silently truncate once the ids
    outgrow the pad width), n_bytes is the UTF-8 octet length, and
    md5(text) hashes exactly the member bytes the Spark side extracts —
    the media_decode_png discipline (one wrong byte in any member of
    any archive breaks the gate). Shared by scan_archive and its
    streaming twin stream_archive_live (the split is stateless, so the
    member set is identical)."""
    return (
        "SELECT "
        f"  'arch_' || printf('%04d', doc_id // {_ARCH_DOCS}) || "
        f"    CASE WHEN (doc_id // {_ARCH_DOCS}) % 2 = 0 THEN '.zip' ELSE '.tar' END AS archive, "
        "  'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM documents"
    )


def _pack_archive_fixture(docs: DataFrame, adir: str) -> None:
    """Pack the documents table into ``adir`` as mixed ZIP/USTAR
    archives (_ARCH_DOCS members each; even group index -> stored ZIP
    with the fixed DOS epoch timestamp, odd -> tar with zeroed mtime —
    byte-stable packs). This is FIXTURE CONSTRUCTION (the container
    ships no archive files), driver-side and bounded by the gate
    corpus; the scanned plan starts at the binaryFile read. Shared by
    scan_archive and stream_archive_live."""
    import io
    import os
    import tarfile
    import zipfile

    os.makedirs(adir, exist_ok=True)
    groups: dict[int, list] = {}
    for row in docs.toLocalIterator():
        groups.setdefault(row.doc_id // _ARCH_DOCS, []).append(
            (row.doc_id, row.text)
        )
    for k, members in sorted(groups.items()):
        if k % 2 == 0:
            path = os.path.join(adir, f"arch_{k:04d}.zip")
            with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
                for did, text in sorted(members):
                    zi = zipfile.ZipInfo(
                        f"doc_{did:06d}.txt", date_time=(1980, 1, 1, 0, 0, 0)
                    )
                    z.writestr(zi, text.encode("utf-8"))
        else:
            path = os.path.join(adir, f"arch_{k:04d}.tar")
            with tarfile.open(path, "w", format=tarfile.USTAR_FORMAT) as t:
                for did, text in sorted(members):
                    b = text.encode("utf-8")
                    ti = tarfile.TarInfo(f"doc_{did:06d}.txt")
                    ti.size = len(b)
                    ti.mtime = 0
                    t.addfile(ti, io.BytesIO(b))


@query("scan_archive", oracle=_archive_oracle())
def scan_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM SEQUENCES OVER ARCHIVES — the reference's own unbuilt
    roadmap row (README.md:45, unchecked box), shipped Spark-first
    (r10 verdict item 7): archives scan as WHOLE FILES via the
    binaryFile source (one row per archive, content as binary), then
    an Arrow-batched member split (stdlib zipfile/tarfile over
    BytesIO) yields one row per member with (archive, member, n_bytes,
    content_md5). ZIP and USTAR tar take the same code path, switched
    on the member container's magic, so mixed archive directories scan
    uniformly.

    The archive FILES are a deterministic fixture packed from the
    documents table (stored ZIP entries with the fixed DOS epoch
    timestamp, USTAR entries with zeroed mtime — byte-stable packs),
    because the container ships no archive files; the OPERATOR (scan +
    split) is the production path and the oracle value-checks every
    member byte via md5 (the media_decode_png discipline — the codec
    is real, only the CONTENT is synthesized). The driver-side pack
    loop is fixture construction, bounded by the gate corpus, not part
    of the scanned plan.

    Scale: binaryFile parallelizes across archive files (one task per
    file up to maxPartitionBytes) — the standard 100 TB shape for
    crawl dumps (WARC/tar shards): each executor streams only its own
    archives, the split is map-only, and member blobs die at this
    stage unless projected on. Archives are one-file-one-task, so
    shard archives to ~100 MB-1 GB for parallelism, exactly how WARC
    corpora ship."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="flod_arch_", ignore_cleanup_errors=True) as adir:
        _pack_archive_fixture(docs, adir)
        raw = spark.read.format("binaryFile").load(adir)
        return serve_and_cleanup(archive_member_rows(raw))


@query(
    "sink_tar_shards",
    oracle=(
        # round-trip twin: every document must come back out of its
        # shard byte-exact — names are doc_id arithmetic (printf
        # zero-pads, non-truncating), n_bytes the UTF-8 octet length,
        # md5(text) exactly the member bytes (the scan_archive
        # discipline applied to the WRITE half)
        "SELECT "
        f"  'shard_' || printf('%05d', doc_id // {_SHARD_DOCS}) || '.tar' AS archive, "
        "  'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM documents"
    ),
)
def sink_tar_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED tar-shard WRITE, gated through its own round-trip
    (K1 write() extended to the WebDataset layout — how a 100 TB
    training corpus is materialized for a dataloader): pack_tar_shards
    shuffles once on shard = doc_id // _SHARD_DOCS and each shard's
    TASK writes its own byte-deterministic USTAR tar (sorted members,
    zeroed mtimes — content-addressable shards, pytest-pinned
    byte-identical across packs); the manifest (one row per shard) is
    the bounded driver-side materialization a production job would
    write to a table. The gate then re-reads the shard files through
    the shared member split, so the oracle value-checks every byte
    that went through the writer — a wrong byte in any member of any
    shard breaks the hash.

    Scale: one hash shuffle on the shard key, then map-side pack+write
    per shard straight to object storage (no driver data path); shard
    size is the parallelism knob (WebDataset uses ~100 MB-1 GB shards
    so dataloader tasks stream, not buffer). The read-back here is the
    VERIFICATION half; producers ship only the manifest."""
    import os

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="flod_shards_", ignore_cleanup_errors=True) as out_dir:
        manifest = pack_tar_shards(docs, out_dir).collect()  # one row per shard
        assert all(os.path.getsize(r.path) == r.n_bytes for r in manifest)
        raw = spark.read.format("binaryFile").load(out_dir)
        return serve_and_cleanup(archive_member_rows(raw))


@query("stream_archive_live", oracle=_archive_oracle())
def stream_archive_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING archive ingestion, gated live (the reference's
    README.md:45 roadmap row's literal reading — archives ARRIVE and
    member sequences stream out): the scan_archive fixture directory
    replays through a binaryFile STREAM source (explicit schema) in a
    handful of micro-batches, the shared member split runs map-side
    per trigger, and the drained member rows are hash-compared against
    the SAME closed-form oracle as the batch scan — the split is
    stateless, so the member set is arrival-order independent and the
    batch/stream twins must agree byte-for-byte (also pinned directly
    in tests/test_round11_ops.py).

    Scale: the WARC-ingestion shape — shards land in object storage,
    each trigger picks up new files (maxFilesPerTrigger here groups
    the fixture into ~4 triggers at any SF; production tunes it to
    ingestion latency), the split is stateless map work, and
    downstream claim-state dedup (stream_archive_dedup_live) is where
    bytes meet the pipeline."""
    import os

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="flod_arch_") as adir:
        _pack_archive_fixture(docs, adir)
        n_archives = len(os.listdir(adir))
        members = stream_archive_members(
            spark, adir, max_files_per_trigger=max(1, -(-n_archives // 4))
        )
        return drain(members, spark)


# stream_archive_dedup_live: the re-delivered duplicate copies get
# doc_id + _DUP_OFFSET (past any gate corpus's max id, and wide enough
# that printf('%06d') never pads it — both engines print it plain).
_DUP_OFFSET = 1_000_000


@query(
    "stream_archive_dedup_live",
    oracle=(
        # the end-to-end ingestion invariant in closed form: of the two
        # members carrying each text (original + re-delivered copy at
        # doc_id + offset), exactly the min-doc_id one survives — which
        # is the FIRST ARRIVAL because shards replay in mtime-pinned
        # shard order and members pack in doc_id order
        "WITH s AS (SELECT doc_id, text FROM documents "
        f"  UNION ALL SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents), "
        "w AS (SELECT doc_id, text, "
        "    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM s) "
        "SELECT 'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM w WHERE rn = 1"
    ),
)
def stream_archive_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ARCHIVE INGESTION COMPOSED END-TO-END (r11 verdict
    item 5 — the WARC-ingestion shape both archive docstrings point
    at): tar shards ARRIVE (binaryFile stream, one shard per trigger,
    mtime-pinned arrival order), members split out map-side, and a
    claim-state dedup on content_md5 admits only each content's FIRST
    ARRIVAL — re-delivered shards (the corpus unioned with itself at
    doc_id + _DUP_OFFSET, packed into later-arriving shards) are
    swallowed entirely. Determinism is the stream_dedup_live contract:
    one shard file per trigger scans as one partition, members pack in
    doc_id order, shuffle preserves per-(map, reduce) order, so the
    first row each md5's state partition sees IS the min-doc_id member;
    the oracle states the same invariant as a window rank. Shard count
    is fixed (~10) at any SF so trigger machinery stays constant.

    Scale: the production crawl-ingestion pipeline in one plan —
    stateless split + claim state sharded by content hash; the
    unbounded claim state here swaps for the bounded TTL/Bloom regimes
    (stream_dedup_bounded, bloom_admit) when the horizon allows, and
    the batch nightly twin is dedup_incremental's persisted claim
    table."""
    import os

    from flod_spark.streaming.dedup import drop_duplicates_unbounded

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    redelivered = docs.select(
        (F.col("doc_id") + F.lit(_DUP_OFFSET)).alias("doc_id"), "text"
    )
    n_docs = docs.count()
    shard_docs = max(1, -(-n_docs // 5))  # 5 original + 5 copy shards
    with tempfile.TemporaryDirectory(prefix="flod_arch_dedup_") as adir:
        manifest = pack_tar_shards(
            docs.unionByName(redelivered), adir, shard_docs=shard_docs
        ).collect()
        # pin strictly ascending mtimes in shard order: the file stream
        # source replays by mtime, and copy shards must arrive AFTER the
        # originals they duplicate (quick packs tie on mtime otherwise)
        for i, r in enumerate(sorted(manifest, key=lambda r: r.shard)):
            os.utime(r.path, (1_600_000_000 + i, 1_600_000_000 + i))
        members = stream_archive_members(spark, adir, max_files_per_trigger=1)
        admitted = drop_duplicates_unbounded(members, "content_md5")
        return drain(admitted, spark).select("member", "n_bytes", "content_md5")


def stream_pack_tar_shards(out_dir: str, shard_docs: int = _SHARD_DOCS):
    """STREAMING tar-shard SINK — the write half of the streaming
    ingestion loop (stream in -> WebDataset shards out, the shape a
    Kafka-fed training-corpus materializer has): each micro-batch runs
    pack_tar_shards over ITS OWN rows with a batch-scoped shard prefix
    (``shard_b<batch>_<shard>.tar``), so batches never collide on file
    names and a RETRIED batch rewrites exactly its own shards — and
    because the pack is byte-deterministic (sorted members, zeroed
    mtimes) and each file publishes via atomic rename, the rewrite is
    bit-identical: the sink is idempotent per batch_id without a
    transaction log (the stream_foreach_upsert_live discipline applied
    to file output; pytest-pinned in tests/test_round12_ops.py).
    Returns the foreachBatch function (run it with gate.drain's
    ``foreach_batch``). Registered (r12) as
    stream_sink_tar_live (oracle = the member closed form through
    archive_member_rows — member names are doc_id arithmetic, so the
    set is batch-composition independent) and composed end-to-end in
    stream_curate_loop_live.

    Scale: per batch this is pack_tar_shards' plan — one hash shuffle
    on the shard key, then map-side pack+write straight to object
    storage; the driver-side manifest collect is one row per shard per
    batch (a production job appends it to a manifest table instead).
    Shard size and trigger size are independent knobs: shard_docs
    bounds the tar a dataloader streams, maxFilesPerTrigger/
    maxOffsetsPerTrigger bounds the batch."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        pack_tar_shards(
            batch_df,
            out_dir,
            shard_docs=shard_docs,
            name_prefix=f"shard_b{int(batch_id):05d}_",
        ).collect()  # bounded: one manifest row per shard in this batch

    return write_batch


def _warc_shard_bytes(pairs) -> bytes:
    """One plain-WARC shard's bytes from (doc_id, text) pairs — the
    pure framing half of pack_warc_shards, split out so the
    Content-Length framing can be property-fuzzed round-trip against
    _warc_records without a Spark session (payloads containing CRLF
    blank lines or 'WARC/1.0' text must survive byte-exact: the parser
    never scans payload bytes, it skips them by length)."""
    import io as _io

    buf = _io.BytesIO()
    for did, text in pairs:
        body = str(text).encode("utf-8")
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:flod:doc:{int(did)}>\r\n"
            "WARC-Date: 2020-01-01T00:00:00Z\r\n"
            f"WARC-Target-URI: doc_{int(did):06d}.txt\r\n"
            f"Content-Length: {len(body)}\r\n"
            "\r\n"
        ).encode("utf-8")
        buf.write(head)
        buf.write(body)
        buf.write(b"\r\n\r\n")
    return buf.getvalue()


def pack_warc_shards(
    docs: DataFrame,
    out_dir: str,
    shard_docs: int = _SHARD_DOCS,
    name_prefix: str = "crawl_",
) -> DataFrame:
    """DISTRIBUTED plain-WARC shard writer — pack_tar_shards' twin in
    the crawl-native format (one `response` record per document,
    WARC-Target-URI = the member name the tar convention uses, so the
    SAME closed-form oracle covers both containers): rows group by
    shard = doc_id // shard_docs and each shard's task writes its own
    byte-deterministic .warc (doc_id-sorted records, fixed WARC-Date,
    doc_id-derived record ids — no uuids, no clock; two packs are
    byte-identical). Returns the manifest (shard, path, n_members,
    n_bytes). Reads back through the uniform archive_member_rows
    dispatch (WARC/ magic). Registered (r12) as sink_warc_shards,
    gated by the same closed-form round-trip as the tar form.

    Scale: identical to pack_tar_shards — one hash shuffle on the
    shard key, map-side pack+write per shard, shard size the
    parallelism knob (CommonCrawl ships ~1 GB WARCs for exactly this
    reason)."""
    import os as _os

    import pandas as _pd

    _os.makedirs(out_dir, exist_ok=True)

    def pack(key, pdf):
        (shard,) = key
        pdf = pdf.sort_values("doc_id")
        data = _warc_shard_bytes(zip(pdf["doc_id"], pdf["text"]))
        path = _os.path.join(out_dir, f"{name_prefix}{int(shard):05d}.warc")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        _os.replace(tmp, path)
        return _pd.DataFrame(
            {
                "shard": _pd.Series([int(shard)], dtype="int64"),
                "path": _pd.Series([path], dtype="object"),
                "n_members": _pd.Series([len(pdf)], dtype="int64"),
                "n_bytes": _pd.Series([len(data)], dtype="int64"),
            }
        )

    shards = docs.select(
        "doc_id", "text", F.expr(f"doc_id div {shard_docs}").alias("shard")
    )
    return shards.groupBy("shard").applyInPandas(
        pack, "shard long, path string, n_members long, n_bytes long"
    )


@query(
    "sink_warc_shards",
    oracle=(
        # round-trip twin of sink_tar_shards in the crawl-native
        # container: Target-URIs reuse the tar member-name convention,
        # so the SAME closed form covers both writers — names are
        # doc_id arithmetic (printf zero-pads, non-truncating),
        # n_bytes the UTF-8 octet length, md5(text) the payload bytes
        "SELECT "
        f"  'crawl_' || printf('%05d', doc_id // {_SHARD_DOCS}) || '.warc' AS archive, "
        "  'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM documents"
    ),
)
def sink_warc_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED plain-WARC shard WRITE, gated through its own
    round-trip (sink_tar_shards' twin in the crawl-native format —
    CommonCrawl-shaped corpora ship as ~1 GB WARCs): pack_warc_shards
    shuffles once on shard = doc_id // _SHARD_DOCS and each shard's
    TASK writes its own byte-deterministic .warc (doc_id-sorted
    `response` records, fixed WARC-Date, doc_id-derived record ids —
    no uuids, no clock; packs are byte-identical, pytest-pinned). The
    gate re-reads the shards through the UNIFORM archive_member_rows
    dispatch (WARC/ leading magic — the same split that handles
    ZIP/tar), so the oracle value-checks every payload byte that went
    through the writer AND the WARC branch of the reader in one row.

    Scale: identical to sink_tar_shards — one hash shuffle on the
    shard key, map-side pack+write per shard straight to object
    storage; shard size is the parallelism knob."""
    import os

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="flod_warcshards_", ignore_cleanup_errors=True) as out_dir:
        manifest = pack_warc_shards(docs, out_dir).collect()  # one row per shard
        assert all(os.path.getsize(r.path) == r.n_bytes for r in manifest)
        raw = spark.read.format("binaryFile").load(out_dir)
        return serve_and_cleanup(archive_member_rows(raw))


@query(
    "stream_sink_tar_live",
    oracle=(
        # batch-composition-independent member closed form: shard FILE
        # names are batch-scoped (the stream's file-pickup order is not
        # contractual), but member names, sizes, and payload hashes are
        # pure doc_id/text arithmetic — the whole corpus must come back
        # out of the streamed shards byte-exact, exactly once
        "SELECT 'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM documents"
    ),
)
def stream_sink_tar_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING tar-shard SINK, gated end-to-end (the write half of
    the streaming ingestion loop — a Kafka-fed training-corpus
    materializer): documents replay in 4 micro-batches
    (streaming/replay.py) and stream_pack_tar_shards packs each batch
    into batch-scoped WebDataset shards (``shard_b<batch>_<shard>.tar``
    — batches never collide on file names; retried batches rewrite
    their own files BIT-IDENTICALLY via the deterministic pack + atomic
    rename, and checkpoint restarts continue batch ids without touching
    committed files, both pinned in tests/test_round12_ops.py). The
    gate re-reads every streamed shard through the shared member split;
    the oracle is batch-composition independent because member names
    are doc_id arithmetic.

    Scale: per batch this is pack_tar_shards' plan — one hash shuffle
    on the shard key, then map-side pack+write straight to object
    storage; shard size (tar a dataloader streams) and trigger size
    (rows per batch) are independent knobs. Idempotence per batch_id
    comes without a transaction log."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    timed = docs.withColumn(
        "ts",
        F.expr(
            "timestampadd(MICROSECOND, doc_id, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
        ),
    )
    with tempfile.TemporaryDirectory(prefix="flod_sinktar_out_", ignore_cleanup_errors=True) as out:
        with spool(spark, timed, "ts", n_batches=4) as sp:
            drain(sp.stream.select("doc_id", "text"), spark, foreach_batch=stream_pack_tar_shards(out))
        raw = spark.read.format("binaryFile").load(out)
        return serve_and_cleanup(
            archive_member_rows(raw).select("member", "n_bytes", "content_md5")
        )


@query(
    "stream_curate_loop_live",
    oracle=(
        # the full-loop invariant in closed form: of the two arriving
        # members carrying each text (original + re-delivered copy at
        # doc_id + offset), exactly the min-doc_id one survives to the
        # OUTPUT shards, byte-exact — first arrival because input
        # shards replay in mtime-pinned shard order and members pack
        # in doc_id order (the stream_archive_dedup_live contract,
        # extended through the re-materializing sink)
        "WITH s AS (SELECT doc_id, text FROM documents "
        f"  UNION ALL SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents), "
        "w AS (SELECT doc_id, text, "
        "    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM s) "
        "SELECT 'doc_' || printf('%06d', doc_id) || '.txt' AS member, "
        "  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
        "  md5(text) AS content_md5 "
        "FROM w WHERE rn = 1"
    ),
)
def stream_curate_loop_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE STREAMING CURATION LOOP in one gated query (the
    crawl-to-dataloader pipeline end to end): tar shards ARRIVE
    (binaryFile stream, one per trigger, mtime-pinned order, including
    fully re-delivered duplicate shards), members split out WITH their
    bytes (archive_member_rows keep_content), claim-state dedup on
    content_md5 admits each content's FIRST ARRIVAL only, and admitted
    members RE-MATERIALIZE as clean batch-scoped tar shards
    (stream_pack_tar_shards) — the gate then reads the OUTPUT shards
    back and must find exactly one byte-exact member per distinct
    content, the min-doc_id carrier. This is the composition of
    stream_archive_dedup_live (ingest + dedup) with stream_sink_tar_live
    (re-materialize), proving the bytes survive the whole loop.

    Scale: the production shape — stateless split + claim state
    sharded by content hash + per-batch shard pack+write; the
    unbounded claim state swaps for the bounded TTL/Bloom regimes when
    the horizon allows, and shard/trigger sizes stay independent
    knobs. keep_content means member bytes ride the stream only
    between split and sink — they never enter state (the md5 key
    does)."""
    import os

    from flod_spark.streaming.dedup import drop_duplicates_unbounded

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    redelivered = docs.select(
        (F.col("doc_id") + F.lit(_DUP_OFFSET)).alias("doc_id"), "text"
    )
    n_docs = docs.count()
    shard_docs = max(1, -(-n_docs // 5))  # 5 original + 5 copy shards
    with tempfile.TemporaryDirectory(prefix="flod_curate_out_", ignore_cleanup_errors=True) as out:
        with tempfile.TemporaryDirectory(prefix="flod_curate_in_") as adir:
            manifest = pack_tar_shards(
                docs.unionByName(redelivered), adir, shard_docs=shard_docs
            ).collect()
            for i, r in enumerate(sorted(manifest, key=lambda r: r.shard)):
                os.utime(r.path, (1_600_000_000 + i, 1_600_000_000 + i))
            members = stream_archive_members(
                spark, adir, max_files_per_trigger=1, keep_content=True
            )
            admitted = drop_duplicates_unbounded(members, "content_md5")
            clean = admitted.select(
                F.regexp_extract("member", r"doc_(\d+)\.txt", 1)
                .cast("long")
                .alias("doc_id"),
                F.col("content").cast("string").alias("text"),
            )
            drain(clean, spark, foreach_batch=stream_pack_tar_shards(out, shard_docs=100))
        raw = spark.read.format("binaryFile").load(out)
        return serve_and_cleanup(
            archive_member_rows(raw).select("member", "n_bytes", "content_md5")
        )


def pack_wds_shards(
    docs: DataFrame,
    out_dir: str,
    shard_docs: int = _SHARD_DOCS,
    name_prefix: str = "wds_",
) -> DataFrame:
    """PAIRED-SAMPLE tar-shard writer — the full WebDataset convention
    (pack_tar_shards writes one member per doc; real multimodal
    corpora ship SEVERAL files per sample sharing a basename stem:
    payload + sidecar JSON + media): each doc packs THREE members —
    ``s_<id>.txt`` (the text bytes), ``s_<id>.json`` (the metadata
    sidecar), ``s_<id>.img`` (a deterministic stand-in media payload:
    the 32 ASCII hex chars of md5(text) — the container ships no image
    codecs, so the bytes are fake but the plumbing is real) — in
    sorted (id, ext) order with zeroed mtimes, so packs stay
    byte-identical. Returns the (shard, path, n_members, n_bytes)
    manifest. Read back with archive_member_rows(keep_content=True) +
    wds-style stem grouping (scan_wds_samples).

    Scale: identical to pack_tar_shards — one hash shuffle on the
    shard key, map-side pack+write per shard; a sample's members
    always land in the SAME shard (they pack from the same row), which
    is what makes dataloader-side sample assembly shard-local."""
    import hashlib as _hashlib
    import io as _io
    import json as _json
    import os as _os
    import tarfile as _tarfile

    import pandas as _pd

    _os.makedirs(out_dir, exist_ok=True)

    def pack(key, pdf):
        (shard,) = key
        pdf = pdf.sort_values("doc_id")
        buf = _io.BytesIO()
        with _tarfile.open(fileobj=buf, mode="w", format=_tarfile.USTAR_FORMAT) as t:
            n = 0
            for did, text, lang, source in zip(
                pdf["doc_id"], pdf["text"], pdf["lang"], pdf["source"]
            ):
                tb = str(text).encode("utf-8")
                members = (
                    (f"s_{int(did):06d}.img",
                     _hashlib.md5(tb).hexdigest().encode("ascii")),
                    (f"s_{int(did):06d}.json",
                     _json.dumps({"id": int(did), "lang": lang, "source": source},
                                 sort_keys=True).encode("utf-8")),
                    (f"s_{int(did):06d}.txt", tb),
                )
                for name, b in members:  # already ext-sorted: img<json<txt
                    ti = _tarfile.TarInfo(name)
                    ti.size = len(b)
                    ti.mtime = 0
                    t.addfile(ti, _io.BytesIO(b))
                    n += 1
        data = buf.getvalue()
        path = _os.path.join(out_dir, f"{name_prefix}{int(shard):05d}.tar")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        _os.replace(tmp, path)
        return _pd.DataFrame(
            {
                "shard": _pd.Series([int(shard)], dtype="int64"),
                "path": _pd.Series([path], dtype="object"),
                "n_members": _pd.Series([n], dtype="int64"),
                "n_bytes": _pd.Series([len(data)], dtype="int64"),
            }
        )

    shards = docs.select(
        "doc_id", "text", "lang", "source",
        F.expr(f"doc_id div {shard_docs}").alias("shard"),
    )
    return shards.groupBy("shard").applyInPandas(
        pack, "shard long, path string, n_members long, n_bytes long"
    )


@query(
    "scan_wds_samples",
    oracle=(
        # the assembled-sample closed form: each doc must come back as
        # ONE row with its text byte-exact, its sidecar fields parsed,
        # and its media payload hash (payload bytes are the hex md5 of
        # the text, so its md5 is md5(md5(text)) — string-exact in
        # both engines) — a wrong byte in any of the three members of
        # any sample breaks the hash
        "SELECT doc_id AS sample_id, text, lang, source, "
        "  md5(md5(text)) AS img_md5, CAST(32 AS BIGINT) AS img_bytes "
        "FROM documents"
    ),
)
def scan_wds_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL SAMPLE ASSEMBLY from paired-member tar shards — the
    read half of the WebDataset convention (the shape every multimodal
    dataloader consumes: N files per sample sharing a basename stem
    inside tar shards): pack_wds_shards materializes the documents
    table as 3-member samples (.txt payload / .json sidecar / .img
    stand-in media), the shared member split streams the members out
    WITH their bytes, and one groupBy on the sample stem pivots the
    extension rows back into ONE typed row per sample — text decoded,
    sidecar JSON fields extracted (get_json_object, JVM-side), media
    kept opaque as (md5, n_bytes). The oracle closed-forms all three
    members per sample.

    Scale: the split is stateless map work; assembly is ONE hash
    shuffle on the stem — and because a sample's members pack into the
    same shard, the shard-local ZERO-shuffle form also ships:
    wds_assemble_members (gated as stream_wds_samples_live), which
    this key's groupBy pivot is pinned row-equal to in
    tests/test_round12_ops.py; JSON parsing is a JVM expression, never
    Python."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    with tempfile.TemporaryDirectory(prefix="flod_wds_", ignore_cleanup_errors=True) as adir:
        manifest = pack_wds_shards(docs, adir).collect()  # one row per shard
        assert manifest
        raw = spark.read.format("binaryFile").load(adir)
        members = archive_member_rows(raw, keep_content=True)
        m = members.select(
            F.regexp_extract("member", r"^(s_\d+)\.", 1).alias("stem"),
            F.regexp_extract("member", r"\.([a-z]+)$", 1).alias("ext"),
            "content",
        )
        g = m.groupBy("stem").agg(
            F.max(F.when(F.col("ext") == "txt", F.col("content"))).alias("txt"),
            F.max(F.when(F.col("ext") == "json", F.col("content"))).alias("js"),
            F.max(F.when(F.col("ext") == "img", F.col("content"))).alias("img"),
        )
        js = F.col("js").cast("string")
        return serve_and_cleanup(
            g.select(
                F.regexp_extract("stem", r"s_(\d+)", 1).cast("long").alias("sample_id"),
                F.col("txt").cast("string").alias("text"),
                F.get_json_object(js, "$.lang").alias("lang"),
                F.get_json_object(js, "$.source").alias("source"),
                F.md5("img").alias("img_md5"),
                F.length("img").cast("long").alias("img_bytes"),
            )
        )


# Per-shard Bloom skipping index: bits per shard bitset, probe hashes
# per key, bits per packed word (32 keeps every shift below the BIGINT
# sign bit in both engines), docs per shard at gate scale.
_BLOOM_BITS = 1024
_BLOOM_K = 4
_BLOOM_WORD = 32
_LOOKUP_SHARD_DOCS = 50
_ABSENT_NEEDLES = 4


def _bloom_coeffs():
    from flod_spark.operators.minhash import hash_family

    return hash_family(_BLOOM_K)


def build_shard_bloom(keys: DataFrame, bloom_dir: str) -> None:
    """Materialize the per-shard BLOOM SKIPPING INDEX over (shard, key)
    rows — the file-skipping structure a 100 TB point-lookup needs
    (Parquet row-group blooms / Iceberg puffin, engine-native): each
    key sets _BLOOM_K bit positions (affine transforms of its 60-bit
    md5 prefix — the minhash hash family, so the DuckDB oracle packs
    the identical bits), positions pack into 32-bit words inside
    BIGINTs, and one bit_or aggregate per (shard, word) builds the
    whole index — _BLOOM_BITS/_BLOOM_WORD rows per shard, all JVM.

    Scale: one partial-agg exchange on (shard, word); the index is
    ~shards x 32 rows regardless of corpus size (128 B/shard), small
    enough to broadcast to every probe forever."""
    from flod_spark.operators.minhash import P

    h = (
        F.conv(F.substring("key", 1, 15), 16, 10).cast("long") % P
    ).alias("h")
    pos = keys.select("shard", h).select(
        "shard",
        F.explode(
            F.array(
                *[
                    (((F.lit(a) * F.col("h") + F.lit(b)) % P) % _BLOOM_BITS).alias(f"p{i}")
                    for i, (a, b) in enumerate(_bloom_coeffs())
                ]
            )
        ).alias("p"),
    )
    (
        pos.groupBy("shard", (F.col("p") / _BLOOM_WORD).cast("long").alias("word"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT)))"
            ).alias("bits")
        )
        .write.mode("overwrite")
        .parquet(bloom_dir)
    )


def bloom_lookup(
    spark: SparkSession, data_dir: str, bloom_dir: str, needles: DataFrame
) -> DataFrame:
    """Point lookup of needle keys over a shard-partitioned corpus via
    the persisted Bloom index: each needle probes its _BLOOM_K
    positions against the broadcast index, a shard is a CANDIDATE only
    if ALL positions hit, and the data scan then reads ONLY candidate
    shard partitions (a bounded needles x shards driver list ->
    `shard IN (...)` -> parquet PartitionFilters, the
    ivfpq_index_query discipline). Returns one row per needle (per
    match when duplicate contents share a key): (needle_id,
    n_cand_shards, doc_id) with doc_id NULL for misses — false
    positives cost a pruned scan, never a wrong row.

    Scale: the probe is needles x K rows against a broadcast
    128 B/shard index; data I/O is the candidate fraction of the
    corpus (at 1024 bits / 50 keys / K=4 the per-shard false-positive
    rate is ~1e-3, so absent keys scan ~nothing and present keys scan
    ~their one carrier shard)."""
    from flod_spark.operators.minhash import P

    bloom = spark.read.parquet(bloom_dir)
    h = (
        F.conv(F.substring("key", 1, 15), 16, 10).cast("long") % P
    ).alias("h")
    npos = needles.select("needle_id", "key", h).select(
        "needle_id",
        "key",
        F.posexplode(
            F.array(
                *[
                    ((F.lit(a) * F.col("h") + F.lit(b)) % P) % _BLOOM_BITS
                    for a, b in _bloom_coeffs()
                ]
            )
        ).alias("i", "p"),
    )
    hits = (
        npos.withColumn("word", (F.col("p") / _BLOOM_WORD).cast("long"))
        .join(F.broadcast(bloom), "word")
        .filter(
            F.expr(
                f"(bits & shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT))) <> 0"
            )
        )
    )
    # (needle, i, shard) join rows are unique by construction (one
    # bloom row per (shard, word)), so plain counts replace the
    # Expand-shaped distinct aggregates
    cand = (
        hits.groupBy("needle_id", "key", "shard")
        .agg(F.count("*").alias("k_hit"))
        .filter(F.col("k_hit") == _BLOOM_K)
        .select("needle_id", "key", "shard")
    )
    cand_shards = sorted(
        {r.shard for r in cand.select("shard").distinct().collect()}
    )  # bounded: <= needles x shards
    data = spark.read.parquet(data_dir).filter(F.col("shard").isin(cand_shards))
    # every frame below is needle-sized — broadcast them all so the
    # only non-broadcast input anywhere is the pruned data scan
    found = F.broadcast(cand).join(data, ["shard", "key"]).select(
        "needle_id", "doc_id"
    )
    nc = cand.groupBy("needle_id").agg(F.count("*").alias("n_cand_shards"))
    return (
        needles.select("needle_id")
        .join(F.broadcast(nc), "needle_id", "left")
        .join(F.broadcast(found), "needle_id", "left")
        .select(
            "needle_id",
            F.coalesce("n_cand_shards", F.lit(0)).cast("long").alias("n_cand_shards"),
            "doc_id",
        )
    )


def _bloom_oracle() -> str:
    """Closed-form twin that REBUILDS the Bloom index in SQL from the
    same hash family and value-checks the whole lookup — candidate
    shard counts included, so a wrong bit anywhere in the index build
    or probe breaks the gate, not just a wrong final row."""
    from flod_spark.operators.minhash import P

    coeffs = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_bloom_coeffs())
    )
    return (
        f"WITH d AS (SELECT doc_id, doc_id // {_LOOKUP_SHARD_DOCS} AS shard, "
        "    md5(text) AS key FROM documents), "
        f"ab AS (SELECT * FROM (VALUES {coeffs}) v(i, a, b)), "
        "np AS (SELECT doc_id AS needle_id, key FROM d WHERE doc_id % 97 = 5 "
        f"  UNION ALL SELECT 1000000 + i AS needle_id, "
        "    md5('missing|' || CAST(i AS VARCHAR)) AS key "
        f"  FROM range({_ABSENT_NEEDLES}) t(i)), "
        f"dh AS (SELECT shard, CAST('0x' || substr(key, 1, 15) AS BIGINT) % {P} AS h FROM d), "
        f"dp AS (SELECT shard, ((a * h + b) % {P}) % {_BLOOM_BITS} AS p FROM dh, ab), "
        f"bl AS (SELECT shard, p // {_BLOOM_WORD} AS word, "
        f"    bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD} AS INT)) AS bits "
        f"  FROM dp GROUP BY shard, p // {_BLOOM_WORD}), "
        "nh AS (SELECT needle_id, key, "
        f"    CAST('0x' || substr(key, 1, 15) AS BIGINT) % {P} AS h FROM np), "
        f"np2 AS (SELECT needle_id, key, i, ((a * h + b) % {P}) % {_BLOOM_BITS} AS p FROM nh, ab), "
        "hits AS (SELECT needle_id, key, shard, i FROM np2 "
        f"  JOIN bl ON bl.word = np2.p // {_BLOOM_WORD} "
        f"  WHERE (bits & (CAST(1 AS BIGINT) << CAST(np2.p % {_BLOOM_WORD} AS INT))) <> 0), "
        "cand AS (SELECT needle_id, key, shard FROM hits "
        f"  GROUP BY needle_id, key, shard HAVING COUNT(DISTINCT i) = {_BLOOM_K}), "
        "found AS (SELECT c.needle_id, d.doc_id FROM cand c "
        "  JOIN d ON d.shard = c.shard AND d.key = c.key), "
        "nc AS (SELECT needle_id, COUNT(DISTINCT shard) AS n_cand_shards FROM cand "
        "  GROUP BY needle_id) "
        "SELECT n.needle_id, CAST(COALESCE(nc.n_cand_shards, 0) AS BIGINT) AS n_cand_shards, "
        "  f.doc_id "
        "FROM np n LEFT JOIN nc USING (needle_id) LEFT JOIN found f USING (needle_id)"
    )


@query("scan_bloom_pruned", oracle=_bloom_oracle())
def scan_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT LOOKUP with a persisted per-shard BLOOM SKIPPING INDEX,
    driver-gated end to end: the documents table materializes as a
    shard-partitioned parquet corpus, build_shard_bloom persists the
    128 B/shard index, and bloom_lookup answers a mixed needle set
    (every 97th doc's content key + _ABSENT_NEEDLES planted misses) by
    probing the broadcast index and scanning ONLY candidate shard
    partitions (PartitionFilters pytest-pinned). The oracle REBUILDS
    the index in SQL from the shared hash family, so the gate
    value-checks every index bit's effect — candidate shard counts and
    final matches alike.

    Scale: the shard-skipping economics of a 100 TB needle query —
    index size is independent of corpus size (bits x shards), probes
    broadcast, and data I/O collapses from full-scan to the candidate
    fraction (~1 shard per present key, ~none per absent key at the
    chosen bits/keys/K); the same structure serves dedup lookups
    ('which shards might carry this fingerprint') before any claim
    join."""
    docs = load(spark, sf_dir, "documents")
    with (
        tempfile.TemporaryDirectory(prefix="flod_blshards_", ignore_cleanup_errors=True) as ddir,
        tempfile.TemporaryDirectory(prefix="flod_blindex_", ignore_cleanup_errors=True) as bdir,
    ):
        keyed = docs.select(
            "doc_id",
            F.expr(f"doc_id div {_LOOKUP_SHARD_DOCS}").alias("shard"),
            F.md5(F.col("text").cast("binary")).alias("key"),
        )
        keyed.write.mode("overwrite").partitionBy("shard").parquet(ddir)
        # the index build and needle derivation read the 3-column table
        # BACK from the just-written corpus — the documents source is
        # scanned and hashed exactly once (the replay_stream rescan rule)
        stored = spark.read.parquet(ddir)
        build_shard_bloom(stored.select("shard", "key"), bdir)
        present = stored.filter(F.col("doc_id") % 97 == 5).select(
            F.col("doc_id").alias("needle_id"), "key"
        )
        absent = spark.range(_ABSENT_NEEDLES).select(
            (F.col("id") + 1_000_000).alias("needle_id"),
            F.md5(
                F.concat(F.lit("missing|"), F.col("id").cast("string")).cast("binary")
            ).alias("key"),
        )
        return serve_and_cleanup(
            bloom_lookup(spark, ddir, bdir, present.unionByName(absent))
        )


def wds_assemble_members(raw: DataFrame) -> DataFrame:
    """ZERO-SHUFFLE WebDataset sample assembly — the shard-local form
    scan_wds_samples' docstring promises: because pack_wds_shards puts
    ALL of a sample's members in the same shard (and tar preserves
    member order), one Arrow mapInPandas over (path, content) archive
    rows can split members AND pivot them into typed sample rows
    without any exchange — each archive's samples assemble entirely
    inside its own task. Works identically on batch and streaming
    inputs (stateless); the streaming twin is stream_wds_samples_live.

    Scale: THE dataloader-side plan — map-only over shards, so
    parallelism is shard count, there is no shuffle at any corpus
    size, and a trigger's cost is exactly its shards' bytes."""
    import hashlib
    import io
    import json
    import os
    import tarfile

    def assemble(batches):
        import pandas as pd

        for pdf in batches:
            sid, txt, lang, src, imd5, ibytes = [], [], [], [], [], []
            for _path, blob in zip(pdf["path"], pdf["content"]):
                groups: dict[str, dict] = {}
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as t:
                    for ti in t.getmembers():
                        if not ti.isfile():
                            continue
                        stem, ext = os.path.basename(ti.name).rsplit(".", 1)
                        groups.setdefault(stem, {})[ext] = t.extractfile(ti).read()
                for stem in sorted(groups):
                    g = groups[stem]
                    meta = json.loads(g["json"].decode("utf-8"))
                    sid.append(int(stem.split("_")[1]))
                    txt.append(g["txt"].decode("utf-8"))
                    lang.append(meta.get("lang"))
                    src.append(meta.get("source"))
                    imd5.append(hashlib.md5(g["img"]).hexdigest())
                    ibytes.append(len(g["img"]))
            yield pd.DataFrame(
                {
                    "sample_id": pd.Series(sid, dtype="int64"),
                    "text": pd.Series(txt, dtype="object"),
                    "lang": pd.Series(lang, dtype="object"),
                    "source": pd.Series(src, dtype="object"),
                    "img_md5": pd.Series(imd5, dtype="object"),
                    "img_bytes": pd.Series(ibytes, dtype="int64"),
                }
            )

    return raw.select("path", "content").mapInPandas(
        assemble,
        "sample_id long, text string, lang string, source string, "
        "img_md5 string, img_bytes long",
    )


@query(
    "stream_wds_samples_live",
    oracle=(
        # same closed form as scan_wds_samples: assembly is stateless
        # and shard-local, so the sample SET is trigger-composition
        # independent
        "SELECT doc_id AS sample_id, text, lang, source, "
        "  md5(md5(text)) AS img_md5, CAST(32 AS BIGINT) AS img_bytes "
        "FROM documents"
    ),
)
def stream_wds_samples_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING WebDataset sample assembly, gated live: paired-member
    tar shards replay through a binaryFile stream (a few shards per
    trigger) and wds_assemble_members pivots each shard's members into
    typed sample rows INSIDE the split task — zero shuffle, zero
    state; the drained samples must match the same closed-form oracle
    as the batch scan (the split+pivot is stateless, so arrival order
    and trigger grouping are pure pacing knobs). This is the streaming
    dataloader-feed shape: shards land in object storage, samples
    stream out typed.

    Scale: per trigger the plan is map-only over that trigger's
    shards; there is no state store and no exchange, so sustained
    throughput is shard-scan bandwidth."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    schema = StructType(
        [
            StructField("path", StringType()),
            StructField("modificationTime", TimestampType()),
            StructField("length", LongType()),
            StructField("content", BinaryType()),
        ]
    )
    with tempfile.TemporaryDirectory(prefix="flod_wds_live_") as adir:
        manifest = pack_wds_shards(docs, adir).collect()
        assert manifest
        # shard count grows with SF (one per _SHARD_DOCS docs); a fixed
        # files-per-trigger would make TRIGGER COUNT grow with SF and the
        # gate would measure replay machinery, not assembly — pace to a
        # handful of triggers at any scale (production tunes this to
        # ingestion latency; the assembly is stateless either way)
        per_trigger = max(1, -(-len(manifest) // 8))
        raw = (
            spark.readStream.format("binaryFile")
            .schema(schema)
            .option("maxFilesPerTrigger", per_trigger)
            .load(adir)
        )
        return drain(wds_assemble_members(raw), spark)


# crawl_pipeline constructions shared by engine and oracle: docs whose
# id hits the thin-page residue render as chrome-only stubs (the
# quality stage MUST drop something at any sf), and the whole page set
# is re-delivered once at doc_id + _CRAWL_REFETCH (a crawler fetching
# the same URLs twice — the dedup stage MUST reject the copies).
_CRAWL_THIN_MOD = 29
_CRAWL_REFETCH = 1_000_000


def _crawl_oracle() -> str:
    from flod_spark.catalog.text import (
        QUALITY_MIN_CHARS,
        _html_plant_sql,
        html_extract_ctes,
    )

    thin = (
        f"CASE WHEN doc_id % {_CRAWL_THIN_MOD} = 0 "
        "THEN substr(text, 1, 10) ELSE text END"
    )
    src = (
        f"s AS (SELECT doc_id, {thin} AS text FROM documents "
        f"  UNION ALL SELECT doc_id + {_CRAWL_REFETCH} AS doc_id, {thin} AS text "
        "  FROM documents)"
    )
    plant = _html_plant_sql("substr(md5(text), 1, 4)")
    return (
        f"WITH {src}, {html_extract_ctes(plant, from_tbl='s')}, "
        "q AS (SELECT doc_id, extracted, length(extracted) AS n_chars FROM t "
        f"  WHERE length(extracted) >= {QUALITY_MIN_CHARS}) "
        "SELECT doc_id, md5(extracted) AS fp, CAST(n_chars AS BIGINT) AS n_chars, "
        "  (doc_id = MIN(doc_id) OVER (PARTITION BY md5(extracted))) AS admitted "
        "FROM q"
    )


@query("crawl_pipeline", oracle=_crawl_oracle())
def crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE BATCH CRAWL-CURATION CHAIN END TO END, one gated query:
    planted HTML pages -> pack_warc_shards (distributed, byte-
    deterministic) -> the uniform archive_member_rows WARC split with
    content bytes -> html_main_text extraction inline on the members
    -> quality floor (QUALITY_MIN_CHARS on the extracted text) ->
    exact first-arrival dedup on the extracted fingerprint. This is
    the composition the r12/r13 pieces exist for (WARC scan ->
    EXTRACT -> quality -> dedup); the oracle states the whole thing
    in CLOSED FORM over documents (plant + extract CTEs + quality +
    dedup window) and never sees a WARC — so the pack->scan->parse
    round-trip must be byte-perfect for the hash to match (the
    sink_warc_shards discipline, extended through three more stages).
    Every stage is NON-VACUOUS at any sf by construction: pages whose
    id hits the thin-page residue are chrome-only stubs the quality
    floor drops (both copies), the whole page set is re-delivered at
    doc_id + _CRAWL_REFETCH so dedup rejects one copy of everything
    else, and the page's variable content token keys on md5(text),
    NOT doc_id, so re-fetched pages extract to identical text.

    Scale: one hash shuffle onto shard keys for the pack, map-side
    WARC writes, then the read side is member split + extraction
    FUSED in one Arrow/expression stage per shard (no exchange until
    the 16-byte-fingerprint dedup window) — the crawl-ingestion plan
    whose only corpus-sized exchange carries fingerprints, exactly
    like dedup_exact."""
    import os

    docs = load(spark, sf_dir, "documents")
    pages = _crawl_pages(docs)
    with tempfile.TemporaryDirectory(prefix="flod_crawl_", ignore_cleanup_errors=True) as out_dir:
        manifest = pack_warc_shards(pages, out_dir).collect()  # one row per shard
        assert all(os.path.getsize(r.path) == r.n_bytes for r in manifest)
        raw = spark.read.format("binaryFile").load(out_dir)
        members = archive_member_rows(raw, keep_content=True)
        ext = _crawl_extract_quality(members)
        w = Window.partitionBy("fp")
        return serve_and_cleanup(
            ext.withColumn("admitted", F.col("doc_id") == F.min("doc_id").over(w))
        )


def _crawl_pages(docs: DataFrame) -> DataFrame:
    """(doc_id, text=planted page) for the crawl chain — the thin-page
    residue + the re-fetched copy of the whole set, with the page's
    content token keyed on md5(text); shared by crawl_pipeline and its
    streaming twin so the two gates plant identical pages."""
    from flod_spark.catalog.text import html_plant_col

    thin = F.when(
        F.col("doc_id") % _CRAWL_THIN_MOD == 0, F.substring("text", 1, 10)
    ).otherwise(F.col("text"))
    base = docs.select("doc_id", thin.alias("text"))
    src = base.unionByName(
        base.select((F.col("doc_id") + F.lit(_CRAWL_REFETCH)).alias("doc_id"), "text")
    )
    topic = F.substring(F.md5(F.col("text").cast("binary")), 1, 4)
    return src.select(
        "doc_id", html_plant_col(F.col("doc_id"), F.col("text"), topic).alias("text")
    )


def _crawl_extract_quality(members: DataFrame) -> DataFrame:
    """member rows (with content bytes) -> (doc_id, fp, n_chars) of the
    quality-surviving extracted docs — the stateless extract+quality
    stages shared by the batch and streaming crawl chains (works on
    both because the expressions are per-row)."""
    from flod_spark.catalog.text import QUALITY_MIN_CHARS, html_main_text

    return (
        members.select(
            # regexp, not a fixed-width substring: the re-fetched copies
            # carry 7-digit ids past the %06d pad
            F.regexp_extract("member", "doc_([0-9]+)[.]txt", 1)
            .cast("long")
            .alias("doc_id"),
            html_main_text(F.col("content").cast("string")).alias("e"),
        )
        .select("doc_id", F.col("e.extracted").alias("extracted"))
        .filter(F.length("extracted") >= QUALITY_MIN_CHARS)
        .select(
            "doc_id",
            F.md5(F.col("extracted").cast("binary")).alias("fp"),
            F.length("extracted").cast("long").alias("n_chars"),
        )
    )


@query(
    "stream_crawl_extract_live",
    oracle=(
        # the batch chain's closed form, restricted to the admitted
        # rows: the live claim state admits exactly each extracted
        # fingerprint's first arrival (originals arrive before their
        # re-fetched copies — mtime-pinned shard order — and shards
        # pack in doc_id order, so first arrival IS min doc_id)
        f"SELECT doc_id, fp, n_chars FROM ({_crawl_oracle()}) WHERE admitted"
    ),
)
def stream_crawl_extract_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE STREAMING CRAWL-CURATION CHAIN — crawl_pipeline's live twin
    and the extraction-bearing extension of stream_archive_dedup_live
    (WARC shards ARRIVE -> member split with content bytes ->
    html_main_text extraction INLINE in the micro-batch -> quality
    floor -> claim-state dedup on the extracted fingerprint -> only
    first arrivals flow out). Same planted pages, same thin-page and
    re-fetch constructions, same closed-form oracle restricted to the
    admitted rows — so the live claim state must agree with the batch
    window rank exactly. Determinism is the stream_archive_dedup_live
    contract: one shard per trigger scans as one partition, members
    pack in doc_id order, originals' shards carry earlier pinned
    mtimes than the re-fetched shards, and shuffle preserves
    per-(map, reduce) order — the first row each fp's state partition
    sees is the min-doc_id carrier.

    Scale: the production live ingestion plan — stateless split +
    extraction fused map-side per micro-batch, then ONE keyed claim
    state on the 16-byte fingerprint; swap the unbounded claim for the
    TTL/Bloom bounded regimes (stream_dedup_bounded, bloom_admit) when
    the re-fetch horizon allows, exactly like the archive-dedup twin."""
    import os

    from flod_spark.streaming.dedup import drop_duplicates_unbounded

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    shard_docs = max(1, -(-n_docs // 5))  # 5 original + ~5 copy shards
    pages = _crawl_pages(docs)
    with tempfile.TemporaryDirectory(prefix="flod_crawl_live_") as adir:
        manifest = pack_warc_shards(pages, adir, shard_docs=shard_docs).collect()
        # strictly ascending mtimes in shard order: the file stream replays
        # by mtime and copy shards must arrive AFTER the originals
        for i, r in enumerate(sorted(manifest, key=lambda r: r.shard)):
            os.utime(r.path, (1_600_000_000 + i, 1_600_000_000 + i))
        members = stream_archive_members(
            spark, adir, max_files_per_trigger=1, keep_content=True
        )
        admitted = drop_duplicates_unbounded(_crawl_extract_quality(members), "fp")
        return drain(admitted, spark).select("doc_id", "fp", "n_chars")


def crawl_claims_sink(claims_dir: str, bucketed_table: str | None = None):
    """The foreachBatch sink that admits a micro-batch against the
    persisted parquet claim table and ADVANCES it — module-level so the
    checkpoint-restart test drives the EXACT sink the gated query runs.
    The table is the fp-keyed claim table of catalog/dedup.py, with
    n_chars carried; its layout, reserved slice 0, idempotent slice
    writes and compaction crash order are the contract stated in
    dedup.build_claims.

    Slice ids: the sink writes batch b as partition ``slice = b + 1``,
    because slice 0 is the compaction fold's: with slice = batch_id, a
    stream started on a FRESH checkpoint over an existing compacted
    table got batch_id 0 and replaced the entire compacted base with
    one batch's admissions.

    Idempotence holds by construction, not by committer luck: the
    ``seen`` read EXCLUDES the batch's own slice, so a trigger
    re-delivered after a restart-from-checkpoint (where the in-memory
    ``last`` guard has reset) recomputes its admission set against only
    the OTHER slices and rewrites its own slice with identical rows — a
    partially-written prior attempt is fully replaced rather than read
    back as already-seen. The in-memory guard stays as the same-run
    fast path. All reads gate on real part files (io.dir_has_parquet),
    so an all-rejected first batch cannot poison later reads.

    ``bucketed_table`` is the 100 TB ``seen`` read: when the nightly
    compact_claim_table(bucketed_table=...) has refreshed the
    fp-bucketed layout, every compacted fp lives in slice=0 AND in the
    bucketed table, and any ``slice != 0`` partition was by
    construction written AFTER that refresh — so
    ``seen = bucketed base ∪ (dir pruned to slice != 0)`` is exact
    while reading the full-table fp column zero times: the base scans
    shuffle-free from its buckets and the dir read partition-prunes to
    only the small post-compaction slices (pytest-pinned bit-equal to
    the full-dir read). Without it the per-trigger read is the whole
    claim table — fine nightly, the gate's documented form."""
    from flod_spark.catalog.dedup import (
        FP_KEY,
        first_in_slice,
        read_claims,
        write_claim_slice,
    )

    state = {"last": -1, "schema": None}

    def _read_claims(sess, own):
        # schema-cached dir read: the per-trigger seen read used to
        # re-infer the table schema from parquet footers every trigger;
        # the schema is fixed for the table's lifetime, so infer it ONCE
        # (first trigger with data) and pass it explicitly afterwards —
        # the read still re-lists the dir (new slices must appear) but
        # skips the footer-inference job. Bit-identical by construction:
        # the cached schema IS the inferred one.
        df = read_claims(sess, claims_dir, own_slice=own, schema=state["schema"])
        if state["schema"] is None:
            state["schema"] = df.schema
        return df

    def advance(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= state["last"]:
            return  # same-run replayed trigger: its slice is already on disk
        sess = batch_df.sparkSession
        # a nightly compactor can crash between its two renames, leaving
        # the table as <dir>.compact — repair before the part-file gate
        # below, else this trigger would see an absent dir and re-admit
        # everything
        recover_swap_dir(claims_dir)
        firsts = batch_df.withColumn("admitted", first_in_slice(FP_KEY)).filter(
            "admitted"
        )
        own = int(batch_id) + 1
        seen = None
        if bucketed_table is not None and sess.catalog.tableExists(bucketed_table):
            seen = sess.table(bucketed_table).select(*FP_KEY)
            if dir_has_parquet(claims_dir):
                seen = seen.unionByName(
                    _read_claims(sess, own).filter(F.col("slice") != 0).select(*FP_KEY)
                )
        elif dir_has_parquet(claims_dir):
            seen = _read_claims(sess, own).select(*FP_KEY)
        if seen is not None:
            # LEFT ANTI, not flag-join: immune to fp duplicates in a
            # malformed claim table (an anti join never fans out the
            # batch side), and it drops the per-trigger distinct
            # exchange the flag-join needed for the same guarantee
            firsts = firsts.join(seen, list(FP_KEY), "left_anti")
        write_claim_slice(
            firsts.select(*FP_KEY, F.col("doc_id").alias("first_id"), "n_chars"),
            claims_dir,
            own,
        )
        state["last"] = batch_id

    return advance


@query(
    "stream_crawl_claims_live",
    oracle=(
        # stream_crawl_extract_live's oracle VERBATIM: the persisted
        # claim table must admit exactly the same first arrivals the
        # in-memory claim state does (and the batch window rank does)
        f"SELECT doc_id, fp, n_chars FROM ({_crawl_oracle()}) WHERE admitted"
    ),
)
def stream_crawl_claims_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCTION LIVE+DURABLE CRAWL HYBRID: the streaming crawl
    chain whose dedup state is the PERSISTED parquet claim table —
    stream_crawl_extract_live keeps claims in the state store (lost
    with the checkpoint), crawl_pipeline_incremental advances the
    table in nightly batches; this gate composes BOTH: WARC shards
    arrive -> member split + extraction + quality fused per
    micro-batch (stateless), then a foreachBatch sink admits the batch
    against the claim TABLE (anti-join on fp + within-batch first
    arrival) and ADVANCES it — each batch lands as its own
    slice=batch_id+1 partition (dedup.write_claim_slice), so a
    replayed trigger overwrites its own slice instead of
    double-claiming (the claim-table contract in dedup.build_claims +
    the stream_foreach_upsert_live monotone batch_id guard). The
    admitted rows ARE the table: the final answer reads (first_id,
    fp, n_chars) straight from the claims — output and durable state
    cannot disagree. Oracle = the closed form's admitted rows,
    verbatim from the in-memory twin: all three claim-state
    representations (window rank, state store, parquet table) must
    agree bit-for-bit.

    Scale: the per-batch admit joins 16-byte fingerprints only (AQE
    broadcasts the batch side; at 100 TB the table side goes bucketed
    — write_claims_bucketed); the table grows by |newly admitted| rows
    per batch and compact_claim_table folds the slices on the nightly
    cadence. This is the plan where a crawler's live dedup and its
    nightly reconciliation share ONE durable state."""
    import os

    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    shard_docs = max(1, -(-n_docs // 5))
    pages = _crawl_pages(docs)
    with tempfile.TemporaryDirectory(prefix="flod_crawl_clv_") as root:
        adir = os.path.join(root, "warc")
        claims_dir = os.path.join(root, "claims")
        manifest = pack_warc_shards(pages, adir, shard_docs=shard_docs).collect()
        for i, r in enumerate(sorted(manifest, key=lambda r: r.shard)):
            os.utime(r.path, (1_600_000_000 + i, 1_600_000_000 + i))
        members = stream_archive_members(
            spark, adir, max_files_per_trigger=1, keep_content=True
        )
        ext = _crawl_extract_quality(members)
        drain(ext, spark, foreach_batch=crawl_claims_sink(claims_dir))
        if not dir_has_parquet(claims_dir):
            return spark.createDataFrame([], "doc_id long, fp string, n_chars long")
        return serve_and_cleanup(
            spark.read.parquet(claims_dir).select(
                F.col("first_id").alias("doc_id"), "fp", "n_chars"
            )
        )


def _crawl_incr_oracle() -> str:
    from flod_spark.catalog.text import (
        QUALITY_MIN_CHARS,
        _html_plant_sql,
        html_extract_ctes,
    )

    thin = (
        f"CASE WHEN doc_id % {_CRAWL_THIN_MOD} = 0 "
        "THEN substr(text, 1, 10) ELSE text END"
    )
    src = (
        "m AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid FROM documents), "
        f"s AS (SELECT doc_id, {thin} AS text FROM documents "
        f"  UNION ALL SELECT doc_id + {_CRAWL_REFETCH} AS doc_id, {thin} AS text "
        "  FROM documents)"
    )
    plant = _html_plant_sql("substr(md5(text), 1, 4)")
    return (
        f"WITH {src}, {html_extract_ctes(plant, from_tbl='s')}, "
        "q AS (SELECT doc_id, md5(extracted) AS fp, "
        "    CAST(length(extracted) AS BIGINT) AS n_chars FROM t "
        f"  WHERE length(extracted) >= {QUALITY_MIN_CHARS}), "
        "c AS (SELECT DISTINCT fp FROM q, m WHERE doc_id <= mid), "
        "sl AS (SELECT doc_id, fp, n_chars FROM q, m WHERE doc_id > mid) "
        "SELECT doc_id, fp, n_chars, "
        "  (doc_id = MIN(doc_id) OVER (PARTITION BY fp)) "
        "    AND fp NOT IN (SELECT fp FROM c) AS admitted "
        "FROM sl"
    )


def _crawl_slice_extract(spark: SparkSession, pages: DataFrame, out_dir: str):
    """Crawl ONE slice of planted pages into ``out_dir``: pack to WARC
    shards, scan the members back with content bytes, extract +
    quality-filter — the stateless front of the crawl chain, returning
    the (doc_id, fp, n_chars) survivors. Each nightly slice pays exactly
    this: one shard-key shuffle + map-side WARC writes, then member
    split + extraction fused per shard."""
    pack_warc_shards(pages, out_dir).collect()  # bounded: one row per shard
    raw = spark.read.format("binaryFile").load(out_dir)
    return _crawl_extract_quality(archive_member_rows(raw, keep_content=True))


@query("crawl_pipeline_incremental", oracle=_crawl_incr_oracle())
def crawl_pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE NIGHTLY CRAWL-INGESTION STATE MACHINE (r13 verdict item 6):
    crawl_pipeline's chain composed with dedup_incremental's persisted
    claim-table lifecycle — the batch shape whose claim state lives in
    parquet between runs (the live twin stream_crawl_extract_live keeps
    it in stream state). Four slices of the lifecycle run end to end:
    BUILD the claim table from the crawl-extract of the corpus's first
    quarter, ADMIT + ADVANCE the second quarter as slice 1, COMPACT the
    two slices back to one (compact_claim_table -> atomic_swap_dir),
    then admit tonight's slice — the second-half pages plus a re-fetch
    of the ENTIRE corpus — against the compacted table. Every admission
    path carries weight at any sf: fps claimed by the first half
    REJECT (their re-fetched copies), within-slice later arrivals
    REJECT (re-fetched copies of second-half pages, whose originals sit
    in the same slice), unclaimed slice-firsts ADMIT (second-half
    originals), and thin pages drop at quality in every slice. The
    oracle states the whole composition in CLOSED FORM over documents
    (plant + extract + quality + the claim split at mid) and never sees
    a WARC or the claim table — so the pack->scan->extract round-trip
    AND the build/advance/compact/admit state machine must BOTH be
    exact for the hash to match (dedup_claims_compacted's discipline
    applied to the full crawl chain).

    Scale: each slice pays the crawl chain's budget (shard-key shuffle
    + map-side pack, fused member-split/extract on read); the claim
    machinery touches only 16-byte fingerprints (anti-join-shaped
    admit, one fp exchange per compaction); NOTHING rescans a prior
    slice's pages — the entire point of persisting the claim table at
    100 TB, where re-crawled URLs dominate nightly volume. The gate's
    shard and claim trees live under one temp root, swept once the
    verdicts materialize."""
    import os

    from flod_spark.catalog.dedup import (
        admit_fp_rows_against_claims,
        advance_claim_table,
        build_fp_claim_table,
        compact_claim_table,
        quarter_cuts,
    )

    docs = load(spark, sf_dir, "documents")
    q1, mid = quarter_cuts(docs)
    pages = _crawl_pages(docs)
    with tempfile.TemporaryDirectory(
        prefix="flod_crawl_incr_", ignore_cleanup_errors=True
    ) as root:
        claims_dir = os.path.join(root, "claims")
        ext1 = _crawl_slice_extract(
            spark, pages.filter(F.col("doc_id") <= q1), os.path.join(root, "shards1")
        )
        build_fp_claim_table(ext1, claims_dir)

        ext2 = _crawl_slice_extract(
            spark,
            pages.filter((F.col("doc_id") > q1) & (F.col("doc_id") <= mid)),
            os.path.join(root, "shards2"),
        )
        verdicts2 = admit_fp_rows_against_claims(ext2, spark, claims_dir)
        advance_claim_table(verdicts2, claims_dir, slice_id=1)
        compact_claim_table(spark, claims_dir)

        ext3 = _crawl_slice_extract(
            spark, pages.filter(F.col("doc_id") > mid), os.path.join(root, "shards3")
        )
        return serve_and_cleanup(admit_fp_rows_against_claims(ext3, spark, claims_dir))
