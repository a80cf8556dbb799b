"""Custom connectors via the Python DataSource API (SURVEY.md §2.1 —
the "bring your own source" surface; PySpark 4's
``pyspark.sql.datasource``).

Two sources:

- ``arrowdocs`` — batch connector reading a parquet file OR a
  directory of part files through pyarrow in Python workers, emitting
  Arrow RecordBatches (zero row-by-row Python). Partition planning
  happens driver-side in ``partitions()``: one partition per
  (part-file, row-group) for directories (the Iceberg/Delta planning
  unit — at scale a table is never one file), one per row group for a
  multi-row-group single file, falling back to row-range slices so a
  single-row-group demo file still scans in parallel.
- ``seqstream`` — deterministic micro-batch streaming connector
  (SimpleDataSourceStreamReader): a bounded integer sequence with
  replayable offsets, standing in for a queue/broker source (none
  exist in this sandbox). ``readBetweenOffsets`` re-emits any offset
  window identically, which is what checkpoint recovery replays.

Both are registered per-session with ``register_python_sources`` —
registration is idempotent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    DataSourceWriter,
    WriterCommitMessage,
)

DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
_DOC_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


class _RowGroupPartition(InputPartition):
    def __init__(self, row_group: int):
        self.row_group = row_group


class _FileRowGroupPartition(InputPartition):
    """One (part-file, row-group) slice of a directory-shaped table —
    the same planning unit Iceberg/Delta scans use. At 100 TB a table
    is never a single file; a connector that only opens one file dies
    on the first real layout (caught by the r11 10x probe, where the
    cloned fixtures are Spark-written directories)."""

    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


class _RowRangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


# Filter -> pyarrow predicate op; comparisons on flat columns only
_PUSHABLE = {
    EqualTo: "==",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


class ArrowDocsReader(DataSourceReader):
    def __init__(self, options: dict):
        import glob
        import os

        self.path = options["path"]
        self.num_slices = int(options.get("numPartitions", "8"))
        self.pushed: list[tuple[str, str, object]] = []
        # A directory holding exactly ONE part file reuses single-file
        # planning (row-range slices for a single-row-group file) so
        # small demo layouts keep their parallel scan (ADVICE r11).
        # Resolved HERE, not in partitions(): the reader is pickled to
        # executors before partitions() runs, so a late repoint of
        # self.path would never reach read().
        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
            if len(files) == 1:
                self.path = files[0]

    def pushFilters(self, filters: list[Filter]):
        """Accept flat-column comparison filters; pyarrow evaluates
        them against row-group/page statistics, so at scale whole row
        groups are skipped before any decode. Everything else is
        yielded back for Spark to apply post-scan (pushdown must never
        change semantics, only skip work)."""
        for f in filters:
            op = _PUSHABLE.get(type(f))
            if op is not None and len(f.attribute) == 1:
                self.pushed.append((f.attribute[0], op, f.value))
            else:
                yield f  # unsupported -> Spark applies it

    def _arrow_filter(self):
        if not self.pushed:
            return None
        import pyarrow.compute as pc

        expr = None
        for col, op, val in self.pushed:
            f = pc.field(col)
            e = {
                "==": f == val, ">": f > val, ">=": f >= val,
                "<": f < val, "<=": f <= val,
            }[op]
            expr = e if expr is None else expr & e
        return expr

    def partitions(self):
        import glob
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(self.path):
            # directory-shaped table (every real layout at scale):
            # one partition per (part-file, row-group). Planning reads
            # only footers — file count x O(1), never data pages.
            files = sorted(glob.glob(os.path.join(self.path, "*.parquet")))
            if not files:
                raise ValueError(
                    f"arrowdocs: no .parquet part files under {self.path!r}"
                )
            # len(files) == 1 can't happen here — __init__ repoints
            # single-part-file directories at the lone file.
            return [
                _FileRowGroupPartition(fp, i)
                for fp in files
                for i in range(pq.ParquetFile(fp).num_row_groups)
            ]
        meta = pq.ParquetFile(self.path)
        if meta.num_row_groups > 1:
            return [_RowGroupPartition(i) for i in range(meta.num_row_groups)]
        n = meta.metadata.num_rows
        step = max(1, -(-n // self.num_slices))
        return [
            _RowRangePartition(s, min(s + step, n)) for s in range(0, n, step)
        ]

    def read(self, partition):
        import pyarrow.parquet as pq

        if isinstance(partition, _FileRowGroupPartition):
            t = pq.ParquetFile(partition.path).read_row_group(
                partition.row_group, columns=_DOC_COLS
            )
            expr = self._arrow_filter()
            if expr is not None:
                t = t.filter(expr)
            yield from t.to_batches()
            return
        f = pq.ParquetFile(self.path)
        if isinstance(partition, _RowGroupPartition):
            t = f.read_row_group(partition.row_group, columns=_DOC_COLS)
        else:
            # single-row-group fallback: slice the row range (a real
            # multi-row-group table takes the row-group branch, which
            # reads only its own pages)
            t = f.read(columns=_DOC_COLS).slice(
                partition.start, partition.end - partition.start
            )
        expr = self._arrow_filter()
        if expr is not None:
            t = t.filter(expr)
        yield from t.to_batches()


class ArrowDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "arrowdocs"

    def schema(self) -> str:
        return DOCS_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return ArrowDocsReader(self.options)


class SeqStreamReader(SimpleDataSourceStreamReader):
    """Deterministic bounded sequence: values [0, total) in
    ``rowsPerBatch`` chunks; offset = next value to emit."""

    def __init__(self, options: dict):
        self.total = int(options.get("total", "1000"))
        self.rows_per_batch = int(options.get("rowsPerBatch", "250"))

    def initialOffset(self):
        return {"offset": 0}

    def _rows(self, start: int, end: int):
        return iter([(i, float(i) * 0.5) for i in range(start, end)])

    def read(self, start: dict):
        s = start["offset"]
        e = min(s + self.rows_per_batch, self.total)
        return self._rows(s, e), {"offset": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay path (checkpoint recovery): must reproduce exactly
        return self._rows(start["offset"], end["offset"])


class SeqStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "seqstream"

    def schema(self) -> str:
        return "seq bigint, value double"

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return SeqStreamReader(self.options)


def register_python_sources(spark: SparkSession) -> None:
    """Idempotently register both custom sources on this session.

    The DataSource classes are shipped to Python workers by
    cloudpickle. By default classes pickle BY REFERENCE (workers would
    have to import this package — true only when the driver process
    happens to run with the repo on sys.path, e.g. pytest from the
    repo root, and false for an external harness running from another
    cwd). Registering the module for by-value pickling makes the
    connector self-contained: the class definition itself travels with
    the plan, like any closure."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    # implementing pushFilters REQUIRES this conf (Spark hard-errors
    # otherwise); runtime-settable, so a vanilla driver session works.
    # Set for the session, not pinned: every later read of a registered
    # source is planned with it, long after this call returns.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ArrowDocsDataSource)
    spark.dataSource.register(SeqStreamDataSource)
    spark.dataSource.register(JsonlDirDataSource)


# ---------------------------------------------------------------------------
# Custom SINK: JSON-lines directory writer with a two-phase commit
# ---------------------------------------------------------------------------

class _JsonlCommit(WriterCommitMessage):
    """Per-task commit message: the staged temp file + row count."""

    def __init__(self, tmp_path: str, rows: int):
        self.tmp_path = tmp_path
        self.rows = rows


class JsonlDirWriter(DataSourceWriter):
    """DataSourceWriter implementing the real sink commit protocol:
    tasks stage to ``_tmp_<uuid>`` files (speculative/failed attempts
    never become visible), the driver's ``commit`` atomically renames
    every staged file into place and drops a ``_SUCCESS`` manifest
    naming them; ``abort`` deletes the staged files. Readers that
    respect the manifest (see ``pyds_writer_roundtrip``) therefore see
    either the whole write or none of it — exactly the contract
    FileOutputCommitter gives JVM sinks, rebuilt on the Python
    DataSource API for sinks Spark has no connector for."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, rows):
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as fh:
            for row in rows:
                fh.write(json.dumps(row.asDict(), sort_keys=True, default=str))
                fh.write("\n")
                n += 1
        return _JsonlCommit(tmp, n)

    def commit(self, messages):
        import json
        import os

        finals = []
        for m in messages:
            if m is None:
                continue
            final = os.path.join(
                os.path.dirname(m.tmp_path),
                os.path.basename(m.tmp_path).removeprefix("_tmp_"),
            )
            os.replace(m.tmp_path, final)
            finals.append({"file": os.path.basename(final), "rows": m.rows})
        with open(os.path.join(self.path, "_SUCCESS"), "w") as fh:
            json.dump({"files": sorted(finals, key=lambda d: d["file"])}, fh)

    def abort(self, messages):
        import os

        for m in messages or []:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class JsonlDirDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonldir"

    def writer(self, schema, overwrite: bool):
        return JsonlDirWriter(self.options, overwrite)
