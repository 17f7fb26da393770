"""Custom Python DataSource: a Kafka-wire-format file log ("wirelog").

Spark 4's Python DataSource API (`pyspark.sql.datasource`) lets a pure-
Python connector plug into the planner: the engine's `kafka_wire_frame`
producer frames (utf8 key bytes, 4-byte big-endian IntegerSerde value
bytes, b3/baggage headers — exactly the reference's serde config,
application.yml:17-21) are persisted as length-prefixed binary frame
files through this source's DSv2 sink (``df.write.format("wirelog")``,
two-phase commit), and read back with one input partition per file.
That closes the broker-gap loop end-to-end IN-ENGINE: produce-side
encode → wire bytes on disk → custom-source scan → decode, with no Kafka
dependency. Against a real deployment the same reader logic would target
the broker; here the wire format itself is the contract under test.

Frame layout (all lengths unsigned 4-byte big-endian):
    [klen][key][vlen][value][n_headers] then per header [hklen][hk][hvlen][hv]

The module holds one copy of each step of the format's life cycle: one
framer (:func:`_write_frame`, with :func:`wire_frame_bytes` its JVM-side
twin), one parser (:func:`_read_frames`, whole file or a byte range),
one Arrow batcher feeding both readers, and one staged writer
(:class:`_StagedWriter`) under both sinks, which differ only in
``commit``.

Scale notes: one file = one InputPartition = one task, so read
parallelism is the file count (the writer's input partitioning sets it);
frames stream through a generator — nothing buffers a whole file; the
driver only lists the directory. Filter/column pushdown is not
implemented (the API supports it via pushFilters) — documented
limitation, fine for a wire-replay source whose consumers decode every
frame anyway.
"""

from __future__ import annotations

import os
import struct
import uuid
from collections.abc import Iterator
from itertools import accumulate, chain, islice

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

WIRELOG_SCHEMA = "key binary, value binary, headers array<struct<key:string,value:binary>>"

_U32 = struct.Struct(">I")

#: Frames per Arrow RecordBatch yielded by the readers. Bounds reader
#: memory to one batch of decoded frames per task regardless of file size.
_ARROW_BATCH_ROWS = 8192

Frame = tuple[bytes, bytes, list[tuple[str, bytes]]]


def _write_frame(fh, key: bytes, value: bytes, headers: list[tuple[str, bytes]]) -> None:
    """Pure-Python reference framer — the byte-level spec that
    :func:`wire_frame_bytes` (the production JVM-side assembly) is
    equivalence-tested against."""
    fh.write(_U32.pack(len(key)))
    fh.write(key)
    fh.write(_U32.pack(len(value)))
    fh.write(value)
    fh.write(_U32.pack(len(headers)))
    for hk, hv in headers:
        hkb = hk.encode("utf-8")
        fh.write(_U32.pack(len(hkb)))
        fh.write(hkb)
        fh.write(_U32.pack(len(hv)))
        fh.write(hv)


def _read_frames(path: str, start: int = 0, end: int | None = None) -> Iterator[Frame]:
    """Parse the frames whose first byte lies in ``[start, end)``; ``end``
    defaults to the file's size when it is opened.

    ``start`` and ``end`` MUST be frame boundaries: the stream reader takes
    them from size snapshots between whole-frame appends (the writer
    contract), and the batch reader reads whole files. Every read is
    length-checked, so a frame cut short by the end of the file or running
    past ``end`` raises ``ValueError`` naming the file and the frame's
    offset instead of yielding a short field."""
    with open(path, "rb") as fh:
        if end is None:
            end = os.fstat(fh.fileno()).st_size
        fh.seek(start)
        pos = start

        def take(n: int) -> bytes:
            nonlocal pos
            data = fh.read(n)
            pos += n
            if len(data) < n or pos > end:
                raise ValueError(f"wirelog file {path}: torn frame at byte {frame_at}")
            return data

        def field() -> bytes:
            return take(_U32.unpack(take(4))[0])

        while pos < end:
            frame_at = pos
            key, value = field(), field()
            headers = [
                (field().decode("utf-8"), field()) for _ in range(_U32.unpack(take(4))[0])
            ]
            yield key, value, headers


def wire_frame_bytes() -> "object":
    """Column expression: one fully framed wirelog record as binary.

    The ENTIRE frame — length prefixes, key/value bytes, header count and
    per-header records — is assembled with built-in binary expressions
    (concat + the engine's IntegerSerde encoder + a fold over the header
    array), so framing runs inside whole-stage codegen on the JVM and the
    Python side of the writer only concatenates finished byte strings.
    """
    from pyspark.sql import functions as F

    from logflow.functions.codec import int_be_encode

    def u32(c):
        return int_be_encode(c.cast("int"))

    key = F.coalesce(F.col("key"), F.lit(b""))
    value = F.coalesce(F.col("value"), F.lit(b""))
    hdrs = F.coalesce(
        F.col("headers"), F.expr("CAST(array() AS array<struct<key:string,value:binary>>)")
    )
    hdr_bytes = F.aggregate(
        hdrs,
        F.lit(b"").cast("binary"),
        lambda acc, h: F.concat(
            acc,
            u32(F.octet_length(F.encode(h["key"], "UTF-8"))),
            F.encode(h["key"], "UTF-8"),
            u32(F.octet_length(h["value"])),
            h["value"],
        ),
    )
    return F.concat(
        u32(F.octet_length(key)),
        key,
        u32(F.octet_length(value)),
        value,
        u32(F.size(hdrs)),
        hdr_bytes,
    )


def _arrow_schema():
    import pyarrow as pa

    header = pa.struct([pa.field("key", pa.string()), pa.field("value", pa.binary())])
    return pa.schema(
        [
            pa.field("key", pa.binary()),
            pa.field("value", pa.binary()),
            pa.field("headers", pa.list_(header)),
        ]
    )


def _arrow_batches(frames: Iterator[Frame]):
    """Batch parsed frames into ``pyarrow.RecordBatch``es of at most
    ``_ARROW_BATCH_ROWS`` rows — the one reader output of both sources.

    Yielding Arrow batches (supported by the Spark 4 Python DataSource API
    for batch and stream readers) rather than per-frame tuples moves the
    Python->JVM row boundary to once per batch: the row-at-a-time generator
    made ``source_custom_wirelog`` the slowest non-iterative bench query
    (2.8 s). A task buffers one batch, never a whole file. The ``headers``
    column is assembled from flat key and value arrays plus list offsets:
    converting per-header tuples to structs took about as long as parsing."""
    import pyarrow as pa

    schema = _arrow_schema()
    headers_type = schema.field("headers").type
    header_fields = list(headers_type.value_type)
    while chunk := list(islice(frames, _ARROW_BATCH_ROWS)):
        keys, values, headers = zip(*chunk)
        flat = list(chain.from_iterable(headers))
        entries = pa.StructArray.from_arrays(
            [
                pa.array([k for k, _ in flat], type=pa.string()),
                pa.array([v for _, v in flat], type=pa.binary()),
            ],
            fields=header_fields,
        )
        offsets = pa.array([0, *accumulate(map(len, headers))], type=pa.int32())
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(keys, type=pa.binary()),
                pa.array(values, type=pa.binary()),
                pa.ListArray.from_arrays(offsets, entries, type=headers_type),
            ],
            schema=schema,
        )


def _required_path(options: dict) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("the wirelog format requires a 'path' option")
    return path


def _names(path: str, prefix: str = "", suffix: str = ".wirelog") -> list[str]:
    """Sorted file names in ``path`` with the given prefix and suffix; the
    defaults list the visible frame files."""
    return sorted(f for f in os.listdir(path) if f.startswith(prefix) and f.endswith(suffix))


class WirelogReader(DataSourceReader):
    """Batch scan: one input partition per visible ``*.wirelog`` file,
    decoded by :func:`_read_frames` into Arrow batches."""

    def __init__(self, options: dict):
        self._path = _required_path(options)

    def partitions(self) -> list[InputPartition]:
        return [InputPartition(os.path.join(self._path, f)) for f in _names(self._path)]

    def read(self, partition: InputPartition):
        return _arrow_batches(_read_frames(partition.value))


class WirelogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wirelog"

    def schema(self) -> str:
        return WIRELOG_SCHEMA

    def reader(self, schema) -> WirelogReader:
        return WirelogReader(self.options)

    def streamReader(self, schema) -> "WirelogStreamReader":
        return WirelogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "WirelogArrowWriter":
        return WirelogArrowWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "WirelogStreamWriter":
        return WirelogStreamWriter(self.options)


def register_wirelog(spark) -> None:
    """Idempotent registration of the wirelog format on a session."""
    spark.dataSource.register(WirelogDataSource)


class WirelogStreamReader(DataSourceStreamReader):
    """Micro-batch STREAMING tail of a wirelog directory — the closest
    sandbox analog of the reference's live Kafka consumption
    (TestConsumer.java:21-46): the wire format is identical; only the
    transport (growing files vs a broker socket) differs.

    Offsets are ``{"sizes": {filename: bytes_consumed}}``: ``latestOffset``
    snapshots current file sizes on the driver (a directory listing —
    cheap), ``partitions(start, end)`` emits one input partition per file
    whose size grew (so read parallelism = files with new data), and
    ``read`` parses ONLY the new byte range executor-side. Exactly-once
    falls out of the offset algebra: Spark checkpoints the end offset per
    batch and replays ranges on recovery (``read`` is deterministic for a
    fixed range). New files appear mid-stream and are picked up at size 0;
    files never shrink (append-only contract, enforced with a clear error).
    """

    def __init__(self, options: dict):
        self._path = _required_path(options)

    def initialOffset(self) -> dict:
        return {"sizes": {}}

    def latestOffset(self) -> dict:
        return {
            "sizes": {f: os.path.getsize(os.path.join(self._path, f)) for f in _names(self._path)}
        }

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        out = []
        for fname, end_pos in end["sizes"].items():
            start_pos = start["sizes"].get(fname, 0)
            if end_pos < start_pos:
                raise ValueError(
                    f"wirelog file {fname} shrank ({start_pos} -> {end_pos}); "
                    "the source requires append-only files"
                )
            if end_pos > start_pos:
                out.append(
                    InputPartition((os.path.join(self._path, fname), start_pos, end_pos))
                )
        return out

    def read(self, partition: InputPartition):
        return _arrow_batches(_read_frames(*partition.value))


class WirelogCommit(WriterCommitMessage):
    """Per-task commit message: the temp file the task staged + its count."""

    def __init__(self, tmp_name: str, n: int):
        self.tmp_name = tmp_name
        self.n = n


class _StagedWriter:
    """Executor half and cleanup shared by both wirelog sinks.

    * ``write`` (executor, once per task) streams its Arrow batches into a
      STAGED file named ``.part-<job>-<uuid>.wirelog.tmp`` — the leading
      dot and ``.tmp`` suffix keep it invisible to the readers'
      ``*.wirelog`` listing, so a crashed task can never leak half-written
      frames into a concurrent read. Task memory is bounded by ONE batch.
      The file is opened LAZILY on the first non-empty batch and removed
      task-locally on any failure, so a failing or killed task leaves no
      staging behind; the job-prefix sweep is the backstop for attempts
      that die without running the except block.
    * ``abort`` and the end of every ``commit`` sweep THIS JOB's staged
      files (losing speculative, retried or killed attempts included:
      ``commit`` renames only the reported winners). The job id is drawn
      once on the driver and pickled to every task, so a concurrent job's
      staging is never touched.

    Rows arrive either pre-framed (a single ``frame binary`` column —
    frames assembled JVM-side by :func:`wire_frame_bytes`, written with
    one ``write`` per batch) or as the raw (key, value, headers) wire
    schema, encoded here by :func:`_write_frame`. On a cluster the staging
    would live on the shared filesystem next to the target (same rename
    domain); tmpfs stands in here, as everywhere in this repo.
    """

    def __init__(self, options: dict, overwrite: bool = False):
        self._path = _required_path(options)
        self._overwrite = overwrite
        self._job = uuid.uuid4().hex

    def write(self, iterator) -> WirelogCommit:
        os.makedirs(self._path, exist_ok=True)
        tmp_name = f".part-{self._job}-{uuid.uuid4().hex}.wirelog.tmp"
        tmp_path = os.path.join(self._path, tmp_name)
        n = 0
        fh = None
        try:
            for batch in iterator:
                if not batch.num_rows:
                    continue
                if fh is None:
                    fh = open(tmp_path, "wb")
                if batch.schema.names == ["frame"]:
                    fh.write(b"".join(batch.column(0).to_pylist()))
                else:
                    d = batch.to_pydict()
                    for key, value, headers in zip(d["key"], d["value"], d["headers"]):
                        _write_frame(
                            fh,
                            key or b"",
                            value or b"",
                            [(h["key"], h["value"]) for h in headers or []],
                        )
                n += batch.num_rows
        except BaseException:
            if fh is not None:
                os.remove(tmp_path)
            raise
        finally:
            if fh is not None:
                fh.close()
        return WirelogCommit(tmp_name, n)

    def _rename(self, tmp_name: str, final: str) -> str:
        os.rename(os.path.join(self._path, tmp_name), os.path.join(self._path, final))
        return final

    def _remove(self, names) -> None:
        for f in names:
            os.remove(os.path.join(self._path, f))

    def _sweep_staged(self) -> None:
        self._remove(_names(self._path, f".part-{self._job}-", ".wirelog.tmp"))

    def abort(self, messages, batchId: int | None = None) -> None:
        # Every staged file of this job, reported in ``messages`` or not,
        # carries the job prefix; the sweep removes them all.
        if os.path.isdir(self._path):
            self._sweep_staged()


class WirelogArrowWriter(_StagedWriter, DataSourceArrowWriter):
    """Batch SINK (``df.write.format("wirelog")``) with the DSv2 TWO-PHASE
    COMMIT protocol: ``write`` stages (:class:`_StagedWriter`); ``commit``
    (driver, after ALL tasks succeed) atomically renames every staged file
    to its visible ``part-<job>-<uuid>.wirelog`` name (rename is atomic on
    POSIX) and, on overwrite, then removes the visible files this job did
    not produce; ``abort`` deletes the staging — the directory's visible
    state is byte-identical to before the failed write.
    """

    def commit(self, messages) -> None:
        # Overwrite is made crash-safe by ORDERING: rename the staged
        # winners to their visible names FIRST, and only then delete the
        # pre-existing visible files this job did not produce. A driver
        # crash mid-commit leaves old+new data visible (recoverable /
        # idempotently re-committable) — never the old data deleted with
        # the new still hidden.
        pre_existing = set(_names(self._path))
        # strip the leading "." and the ".tmp" suffix
        new = {self._rename(m.tmp_name, m.tmp_name[1:-4]) for m in messages if m.n}
        if self._overwrite:
            self._remove(pre_existing - new)
        self._sweep_staged()


class WirelogStreamWriter(_StagedWriter, DataSourceStreamArrowWriter):
    """STREAMING sink (``df.writeStream.format("wirelog")``) with
    EPOCH-IDEMPOTENT commits: ``write`` stages (:class:`_StagedWriter`,
    once per task per micro-batch); ``commit(messages, batchId)`` (driver,
    after the epoch's tasks all succeed) first deletes any visible
    ``part-b<batchId>-*.wirelog`` left by a CRASHED previous attempt of the
    SAME epoch, then renames the staged winners to deterministic
    epoch-keyed names ``part-b<batchId>-<seq>.wirelog`` — so a replayed
    micro-batch REPLACES rather than duplicates its own output
    (exactly-once at the file level, the foreachBatch-upsert guarantee
    without user code); ``abort(messages, batchId)`` removes the staging.

    At 100 TB this is the standard epoch-commit streaming-file-sink
    protocol (Spark's own FileStreamSink keeps the same idempotence via
    a batchId-keyed manifest; deterministic names stand in for the
    manifest here, matching the connector's directory-is-the-log model).
    """

    def commit(self, messages, batchId: int) -> None:
        prefix = f"part-b{batchId:010d}-"
        self._remove(_names(self._path, prefix))
        for seq, m in enumerate(m for m in messages if m.n):
            self._rename(m.tmp_name, f"{prefix}{seq:05d}.wirelog")
        self._sweep_staged()
