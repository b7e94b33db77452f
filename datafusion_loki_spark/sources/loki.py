"""The ``loki`` Python Data Source: Spark's analogue of the reference's
``LokiLogTable`` TableProvider + its two physical operators.

Read path  ≙ LokiLogScanExec  (datafusion-loki/src/scan.rs:23-216)
Write path ≙ LokiLogInsertExec (datafusion-loki/src/insert.rs:34-247)
Pushdown   ≙ supports_filters_pushdown/scan (src/table.rs:90-156) via
             ``pushFilters`` + the logql translator.
Plan serde ≙ src/codec.rs — NOT needed: Spark pickles the reader and its
             InputPartitions to executors natively (SURVEY.md §4.3).

Options:
  endpoint       Loki base URL (required)              ≙ table.rs:41
  default_label  fallback stream selector label        ≙ table.rs:42,55-58
  labels         selector terms or JSON equality map — the §7.4.2(b)
                 substitute for map-subscript pushdown
  start / end    ISO timestamps or epoch-ns bounds (optional)
  limit          push LIMIT n into the HTTP request    ≙ scan.rs:131-146
                 (Python DS API has no pushLimit hook yet — SURVEY.md §7.4.3)
  columns        comma-separated subset of timestamp,labels,line: the
                 source-side projection (≙ ProjectionMask::roots,
                 scan.rs:203-206). The Python DS API hands reader() the
                 FULL schema regardless of the query's projection (no
                 pruning hook, verified against pyspark 4.1's
                 plan_data_source_read worker), so — like `labels` and
                 `limit` — pruning rides an option: schema() narrows to the
                 requested columns and read() decodes only those parquet
                 columns. loki_table() wires it from .select() ergonomics.
  partitions     split the time range into N parallel range queries.
                 The reference hardcodes 1 partition (scan.rs:46,95-97);
                 N time slices is the 100 TB scale path. Forced to 1 when
                 a limit is pushed (limit semantics are global).

Scale notes: each InputPartition is a plain-data (start_ns, end_ns) slice —
pickled to an executor, which opens its own HTTP connection (no shared
client state on the plan). At 1000 executors this fans out to 1000
concurrent bounded range queries, which is exactly how Loki parallelizes
reads server-side.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from datafusion_loki_spark.sources import client as loki_client
from datafusion_loki_spark.sources import logql
from datafusion_loki_spark.sources.schema import LOG_TABLE_SCHEMA


def _parse_time_option(value: str | None) -> int | None:
    """'2024-01-01 00:00:00' | ISO | epoch-ns int → epoch ns (naive
    timestamps read as UTC; exact integer conversion — the float
    ``.timestamp()`` path truncates 1 µs on ~1% of values, see
    logql.aware_datetime_to_ns)."""
    if value is None or value == "":
        return None
    text = str(value).strip()
    if text.lstrip("-").isdigit():
        return int(text)
    dt = datetime.fromisoformat(text)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return logql.aware_datetime_to_ns(dt)


_ALL_COLUMNS = ("timestamp", "labels", "line")


def _parse_columns_option(options) -> tuple[str, ...]:
    """`columns` option → validated tuple in canonical schema order."""
    raw = options.get("columns")
    if not raw:
        return _ALL_COLUMNS
    requested = {c.strip() for c in str(raw).split(",") if c.strip()}
    unknown = requested - set(_ALL_COLUMNS)
    if unknown:
        raise ValueError(
            f"unknown loki columns {sorted(unknown)}; valid: {list(_ALL_COLUMNS)}"
        )
    if not requested:
        raise ValueError("loki `columns` option must name at least one column")
    return tuple(c for c in _ALL_COLUMNS if c in requested)


@dataclass
class LokiRangePartition(InputPartition):
    """One time slice of the scan — plain data, cheap to pickle."""

    start_ns: int
    end_ns: int


def _ts_ns_ints(table):
    """The page's timestamp column as raw ns int64. The wire contract is
    ns — either TIMESTAMP(NANOS) or int64 nanos — but a store emitting
    another timestamp unit is normalized rather than silently
    reinterpreted: a µs column cast straight to int64 would make the
    pager's `cur = max_ts` jump back to ~1970 and loop forever
    re-emitting the same page."""
    import pyarrow as pa

    col = table.column("timestamp")
    if pa.types.is_timestamp(col.type):
        if col.type.unit != "ns":
            col = col.cast(pa.timestamp("ns"))
        return col.cast(pa.int64())
    return col


def _ts_us_col(col, tz=None):
    """A wire timestamp column (TIMESTAMP of any unit, or the int64-ns
    encoding) as timestamp('us'[, tz]) — the ONE Spark-facing conversion
    shared by the batch reader and the streaming tail. The int64 branch
    must divide, not cast: reinterpreting ns counts as µs puts every row
    ~1000x in the future (the batch/streaming divergence class the
    shared pager exists to prevent)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    target = pa.timestamp("us", tz) if tz else pa.timestamp("us")
    if pa.types.is_timestamp(col.type):
        return col.cast(target, safe=False)
    return pc.divide(col, 1000).cast(pa.int64()).cast(target)


def _page_tables(
    endpoint, query, start_ns, end_ns, page_limit, columns=None, max_rows=None
):
    """Yield pyarrow Tables covering [start_ns, end_ns) under the
    withhold-max-timestamp paging protocol — the ONE implementation
    shared by the batch reader (bounded and user-LIMIT scans alike) and
    the streaming tail (a fix applied to one copy used to silently
    diverge batch vs streaming semantics; the user-limit path was the
    last inline copy of the protocol, folded in via ``max_rows``).

    Each page asks for ``page_limit`` rows (direction=forward); a full
    page means more data may remain, so rows carrying the page's maximum
    timestamp are withheld (the server may have cut mid-timestamp) and
    the next page restarts AT that timestamp, re-reading them in full —
    no row lost, none duplicated. A full page at a single timestamp
    (> page_limit rows in one ns) cannot make progress that way; it is
    emitted as-is and the scan steps 1 ns past it — the one truncation
    case left, flagged here rather than hit silently. Degenerate ranges
    (end <= start) yield nothing without touching the store (real Loki
    rejects an inverted query_range with HTTP 400).

    ``max_rows`` (a pushed-down LIMIT) caps the total rows emitted:
    each page asks for min(page_limit, remaining); a full page of
    size ask < page_limit is exactly the remaining rows and finishes
    the scan WITHOUT the withhold step (forward order makes the first
    `max_rows` rows the right ones — the boundary re-read matters only
    when the scan continues past the page)."""
    import io

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if end_ns <= start_ns:
        return
    page_cols = None
    if columns is not None:
        page_cols = list(dict.fromkeys(list(columns) + ["timestamp"]))
    cur = start_ns
    remaining = max_rows
    while True:
        ask = page_limit if remaining is None else min(page_limit, remaining)
        if ask <= 0:
            return
        body = loki_client.query_range(endpoint, query, cur, end_ns, ask)
        if not body:
            return
        table = pq.ParquetFile(io.BytesIO(body)).read(columns=page_cols)
        if table.num_rows == 0:
            return
        if table.num_rows < ask or ask < page_limit:
            # store exhausted, or a full page of exactly the remaining
            # rows — either way this finishes the scan
            yield table
            return
        ts = _ts_ns_ints(table)
        max_ts = pc.max(ts).as_py()
        min_ts = pc.min(ts).as_py()
        if max_ts == min_ts:
            emit = table  # degenerate full page at one ns: step past
            cur = max_ts + 1
        else:
            emit = table.filter(pc.less(ts, pa.scalar(max_ts)))
            cur = max_ts
        yield emit
        if remaining is not None:
            remaining -= emit.num_rows
            if remaining <= 0:
                return
        if cur >= end_ns:
            return


class LokiDataSource(DataSource):
    """format("loki") — registered via datafusion_loki_spark.register_loki."""

    # Endpoint-bound subclasses (register_loki_endpoint) place their
    # connection options here: pyspark 4.1 does not forward CREATE TABLE
    # OPTIONS to Python data sources, and class attributes DO survive the
    # cloudpickle trip to executors — making `CREATE TABLE ... USING
    # <name>` + SQL INSERT/SELECT work, which is the reference's SQL entry
    # point (examples/datafusion.rs:10-14, init.sql).
    _default_options: dict = {}

    def __init__(self, options):
        merged = dict(self._default_options)
        merged.update(options or {})
        super().__init__(merged)

    @classmethod
    def name(cls) -> str:
        return "loki"

    def schema(self) -> StructType:
        # Fixed schema, like LOG_TABLE_SCHEMA (table.rs:31-37); the
        # `columns` option narrows it for source-side projection pruning.
        return StructType(
            [LOG_TABLE_SCHEMA[name] for name in _parse_columns_option(self.options)]
        )

    def reader(self, schema: StructType) -> "LokiDataSourceReader":
        return LokiDataSourceReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "LokiDataSourceWriter":
        # Append-only, like the InsertOp::Append gate (table.rs:164-169).
        if overwrite:
            raise ValueError("loki data source only supports append mode")
        return LokiDataSourceWriter(self.options)

    def simpleStreamReader(self, schema: StructType) -> "LokiStreamReader":
        """Streaming tail of the log store — beyond the reference's surface
        (its scan is bounded, scan.rs:47-48); Spark's Structured Streaming
        makes the same range-query protocol incremental."""
        return LokiStreamReader(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> "LokiStreamWriter":
        if overwrite:
            raise ValueError("loki data source only supports append mode")
        return LokiStreamWriter(self.options)


class LokiDataSourceReader(DataSourceReader):
    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        if not self.endpoint:
            raise ValueError("loki reader requires option 'endpoint'")
        self.default_label = options.get("default_label")
        self.label_matchers = logql.parse_label_options(options.get("labels"))
        self.option_start = _parse_time_option(options.get("start"))
        self.option_end = _parse_time_option(options.get("end"))
        self.columns = _parse_columns_option(options)
        self.limit = int(options["limit"]) if options.get("limit") else None
        self.num_partitions = int(options.get("partitions", "1"))
        # Per-request page size for the UNBOUNDED scan path. Real Loki
        # truncates query_range responses at its server-side max
        # (`max_entries_limit_per_query`, default 5000); the reference
        # issues ONE request per scan (scan.rs:195-198) and silently
        # loses everything past that cap. We page forward instead —
        # deliberate safer-than-reference delta, see read().
        self.page_limit = int(options.get("page_limit", "5000"))
        if options.get("check_connection", "false").lower() == "true":
            loki_client.check_connection(self.endpoint)
        # Explicit LogQL line-filter segments (`|= x`, `|~ rx`, `!= x`,
        # `!~ rx`, ;-separated). The reference can push regex matches
        # because DataFusion's filter Exprs carry them (expr.rs:63-80);
        # Spark's pushFilters never delivers RLIKE/ILIKE, so this option is
        # the §7.4.2(b)-style route for store-side regex pruning. Like the
        # `labels` option, the user asserts the filter semantics.
        self.option_line_filters = logql.parse_line_filter_options(
            options.get("line_filters")
        )
        self.line_filters: list[str] = []
        self.pushed_start: int | None = None
        self.pushed_end: int | None = None

    def pushFilters(self, filters):
        """Exact-pushdown negotiation (≙ supports_filters_pushdown,
        table.rs:140-156): consume what LogQL expresses exactly, yield the
        rest back for Spark to evaluate post-scan."""
        result = logql.translate_filters(filters)
        self.line_filters = result.line_filters
        self.pushed_start = result.start_ns
        self.pushed_end = result.end_ns
        yield from result.unsupported

    def _time_range(self) -> tuple[int, int]:
        """Pushed filter bounds INTERSECT the option bounds (max of
        starts, min of ends); default = last 30 days (≙ scan.rs:104-111,
        utils.rs:10-12). Replacing instead of intersecting — the old
        behavior — let ``loki_table(start=June).filter("ts > January")``
        widen the window to January and return rows the option excludes:
        adding a filter must never ADD rows."""
        starts = [
            s for s in (self.pushed_start, self.option_start) if s is not None
        ]
        ends = [e for e in (self.pushed_end, self.option_end) if e is not None]
        start = max(starts) if starts else logql.thirty_days_before_now_ns()
        end = min(ends) if ends else logql.current_timestamp_ns()
        return start, end

    def partitions(self):
        start, end = self._time_range()
        n = self.num_partitions
        if self.limit is not None or n <= 1 or end <= start:
            # limit is a global contract → single range query, like the
            # reference's UnknownPartitioning(1) (scan.rs:46).
            return [LokiRangePartition(start, end)]
        step = (end - start) // n
        cuts = [start + i * step for i in range(n)] + [end]
        # a range narrower than n produces step == 0 zero-width slices —
        # each would be an end == start request real Loki rejects; drop
        # them (their rows belong to the surviving wider slice)
        parts = [
            LokiRangePartition(cuts[i], cuts[i + 1])
            for i in range(n)
            if cuts[i + 1] > cuts[i]
        ]
        return parts or [LokiRangePartition(start, end)]

    def _convert_batch(self, batch):
        """Project + convert one Arrow batch to the Spark-facing schema.
        Decode ONLY the projected parquet columns (≙ ProjectionMask::roots,
        scan.rs:203-206) — `SELECT line` must not pay to decode labels."""
        import pyarrow as pa

        arrays = []
        for name in self.columns:
            col = batch.column(name)
            if name == "timestamp":
                # ns (or any wire unit) → µs for Spark TimestampType
                # (SURVEY.md §7.4.1); int64-ns wire divides, never casts
                col = _ts_us_col(col)
            arrays.append(col)
        return pa.RecordBatch.from_arrays(arrays, names=list(self.columns))

    def read(self, partition: LokiRangePartition):
        """Executor-side: bounded range queries → Arrow batches
        (≙ LokiLogScanExec::execute + fetch_log_stream, scan.rs:90-216).

        Deliberate safer-than-reference delta: the UNBOUNDED path pages
        forward. Real Loki truncates each query_range response at the
        server's max-entries cap; the reference's single request
        (scan.rs:195-198) silently drops every row past it. Here each
        page asks for `page_limit` rows (direction=forward); a full page
        means more data may remain, so rows carrying the page's maximum
        timestamp are withheld (the server may have cut mid-timestamp)
        and the next page restarts AT that timestamp, re-reading them in
        full — no row lost, none duplicated (the protocol lives in the
        module-level _page_tables, shared with the streaming tail). With
        a user `limit`, the scan ALSO pages: a single request carrying
        limit > max_entries_limit_per_query is an HTTP 400 on real Loki
        (the emulator is more permissive), so each page asks for
        min(page_limit, remaining) and the forward-ordered pages
        accumulate exactly the first `limit` rows — the SAME shared
        pager, with the row budget threaded through ``max_rows`` (the
        limit path used to carry its own inline copy of the protocol,
        which is exactly the divergence class _page_tables closed)."""
        if partition.end_ns <= partition.start_ns:
            return
        query = logql.build_logql(
            self.label_matchers,
            self.option_line_filters + self.line_filters,
            self.default_label,
        )
        for table in _page_tables(
            self.endpoint,
            query,
            partition.start_ns,
            partition.end_ns,
            self.page_limit,
            self.columns,
            max_rows=self.limit,
        ):
            for batch in table.select(list(self.columns)).to_batches(
                max_chunksize=4096
            ):
                yield self._convert_batch(batch)


def push_batches(endpoint: str, batches, batch_rows: int) -> int:
    """Push Arrow (timestamp, labels, line) batches (positional columns)
    to Loki, one POST per ``batch_rows`` rows; return the rows pushed
    (≙ insert.rs:94-113,167-207). The ONE push kernel of the batch writer,
    the streaming sink and insert_into_loki. Timestamps become ns as
    int64(µs) * 1000 in Arrow: exact, whatever the host time zone.
    Consecutive rows with one label set share a stream object (the
    reference emits one per row, insert.rs:186-206)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    count = 0
    streams: list[dict] = []
    pending = 0
    for batch in batches:
        cols = batch.columns[:3]
        if any(col.null_count for col in cols):
            raise ValueError(
                "loki writer requires non-null (timestamp, labels, line)"
            )
        ts, labels, lines = cols
        ns = pc.multiply_checked(
            ts.cast(pa.timestamp("us", ts.type.tz)).cast(pa.int64()), 1000
        )
        rows = zip(ns.to_pylist(), labels.to_pylist(), lines.to_pylist())
        for ns_i, pairs, line in rows:
            stream_labels = dict(pairs)
            value = [str(ns_i), line]
            if streams and streams[-1]["stream"] == stream_labels:
                streams[-1]["values"].append(value)
            else:
                streams.append({"stream": stream_labels, "values": [value]})
            pending += 1
            if pending >= batch_rows:
                loki_client.push(endpoint, streams)
                streams, pending = [], 0
        count += batch.num_rows
    if streams:
        loki_client.push(endpoint, streams)
    return count


@dataclass
class LokiCommitMessage(WriterCommitMessage):
    """Per-task count of the rows the task pushed (≙ the reference's
    single-row `count` result, insert.rs:104-140)."""

    count: int


class LokiDataSourceWriter(DataSourceArrowWriter):
    """Push-sink writer (≙ insert.rs:104-140): push_batches per task.

    Delivery contract: AT-LEAST-ONCE. Pushes are per-task and durable the
    moment the store accepts them (Loki has no transaction), so a task
    that fails after a partial flush is retried by Spark and re-pushes
    its rows — duplicates, not loss. Identical to the reference's
    failure semantics (its insert loop has no rollback either,
    insert.rs:104-131); deduplicate downstream on (timestamp, labels,
    line) if exactly-once matters."""

    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        if not self.endpoint:
            raise ValueError("loki writer requires option 'endpoint'")
        self.batch_rows = int(options.get("batch_rows", "4096"))

    def write(self, iterator) -> LokiCommitMessage:
        return LokiCommitMessage(
            count=push_batches(self.endpoint, iterator, self.batch_rows)
        )

    def commit(self, messages) -> None:
        # Pushes are durable per task (Loki has no transaction), and
        # Spark's INSERT returns no rows (SURVEY.md §7.4.4): the
        # reference's count result (insert.rs:26-32,136-140) comes from
        # insert_into_loki, which sums its own push tasks' counts.
        pass

    def abort(self, messages) -> None:
        pass


class LokiStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tail over query_range: each batch reads
    [last_offset_ns, now) — the incremental analogue of the reference's
    bounded scan. Offsets are plain ns epochs (JSON-serializable for the
    checkpoint log); replay of [start, end) is deterministic against the
    store, giving at-least-once on failure like any range-poll source."""

    def __init__(self, options):
        self.endpoint = options.get("endpoint")
        if not self.endpoint:
            raise ValueError("loki stream reader requires option 'endpoint'")
        self.default_label = options.get("default_label")
        self.label_matchers = logql.parse_label_options(options.get("labels"))
        self.option_line_filters = logql.parse_line_filter_options(
            options.get("line_filters")
        )
        start = _parse_time_option(options.get("start"))
        self.start_ns = start if start is not None else logql.current_timestamp_ns()
        self.page_limit = int(options.get("page_limit", "5000"))

    def initialOffset(self) -> dict:
        return {"ns": self.start_ns}

    @staticmethod
    def _rows(table):
        """Arrow page → python rows. ns → µs (Spark TimestampType
        precision) via the shared wire-unit dispatch (_ts_us_col — an
        int64-ns wire must divide, not be reinterpreted as µs), tz-aware
        datetimes so the pickle row path converts cleanly."""
        ts_col = _ts_us_col(table.column("timestamp"), tz="UTC")
        rows = []
        for ts, labels, line in zip(
            ts_col.to_pylist(),
            table.column("labels").to_pylist(),
            table.column("line").to_pylist(),
        ):
            labels_map = dict(labels) if isinstance(labels, list) else labels
            rows.append((ts, labels_map, line))
        return rows

    def _fetch(self, start_ns: int, end_ns: int) -> list:
        """Page forward through [start_ns, end_ns) via the shared
        withhold-max-timestamp pager (_page_tables — ONE implementation
        for batch and streaming). The whole micro-batch IS materialized
        on the driver: SimpleDataSourceStreamReader prefetches and
        PICKLES the returned rows to the JVM (a generator fails with
        "cannot pickle 'generator' object"), so driver-side batching is
        inherent to the simple-reader API — bound the backlog with a
        recent `start` option; a deep-backlog tail belongs on the
        partition-planning DataSourceStreamReader API."""
        query = logql.build_logql(
            self.label_matchers, self.option_line_filters, self.default_label
        )
        out: list = []
        for table in _page_tables(
            self.endpoint, query, start_ns, end_ns, self.page_limit
        ):
            out.extend(self._rows(table))
        return out

    def read(self, start: dict):
        end_ns = logql.current_timestamp_ns()
        return iter(self._fetch(start["ns"], end_ns)), {"ns": end_ns}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay for recovery
        return iter(self._fetch(start["ns"], end["ns"]))


class LokiStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: the batch writer's push kernel, per micro-batch
    epoch."""

    def __init__(self, options):
        self._batch = LokiDataSourceWriter(options)

    def write(self, iterator) -> LokiCommitMessage:
        return self._batch.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        # as in the batch writer: pushes are durable per-task and the
        # epoch's count has no outlet in Spark's streaming sink API
        pass

    def abort(self, messages, batchId: int) -> None:
        pass
