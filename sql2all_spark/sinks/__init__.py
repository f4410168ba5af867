"""Sink dispatch by output extension (reference ``impl FromStr for
OutputFormat``, ``src/lib.rs:76-90``; writers ``src/lib.rs:92-141``).

Reference formats: Parquet (``lib.rs:102-113``), CSV with header
(``lib.rs:114-123``), NDJSON with explicit nulls (``lib.rs:124-137``), plus a
declared-but-unimplemented Arrow variant (``lib.rs:73,138``) and roadmap
ORC/Avro (``README.md:26-31``).  We implement all of them, distributed and
committer-finalized — the reference's single writer task has a drop-the-tail
race (``while !rx.is_closed()`` at ``lib.rs:106,117,130``) that Spark's
commit protocol makes impossible.

Parquet, CSV, JSON, ORC and Avro are Spark's own data sources: Spark's save
modes and options, one output directory each.  Avro goes by class name
(``AVRO_FORMAT``; Spark 4.1 ships it in ``spark-sql`` but registers the
short name ``avro`` only with ``spark-avro``, and older Spark without that
package raises its own "failed to find data source" error).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SUPPORTED = ("parquet", "csv", "json", "ndjson", "orc", "avro", "arrow", "lance")
# Spark's Avro data source by class name; ``sources`` reads through it too
AVRO_FORMAT = "org.apache.spark.sql.avro.AvroFileFormat"


def format_from_extension(output: str) -> str:
    """Lowercased last-dot extension → format (``src/lib.rs:79-90``)."""
    name = output.rstrip("/").rsplit("/", 1)[-1].lower()
    if "." not in name:
        raise ValueError(f"no extension on output path {output!r}")
    ext = name.rsplit(".", 1)[-1]
    if ext not in SUPPORTED:
        raise ValueError(f"unsupported output format {ext!r} ({output!r})")
    return "json" if ext == "ndjson" else ext


def write_output(
    df: DataFrame,
    output: str,
    mode: str = "overwrite",
    explicit_nulls: bool = True,
    single_file: bool = False,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
    cluster_partitions: int | None = None,
    **options: str,
) -> str:
    """Write ``df`` to ``output`` in the extension-implied format.

    - ``mode='overwrite'`` matches the reference's create/truncate
      (``src/db/sqlite.rs:77``).
    - CSV always writes a header row (arrow csv::Writer default,
      ``src/lib.rs:119``).
    - JSON: reference emits ``"k":null`` explicitly
      (``with_explicit_nulls(true)``, ``src/lib.rs:128``); Spark drops null
      fields, so ``explicit_nulls=True`` (default) routes rows through
      ``to_json(struct(*), ignoreNullFields=false)`` as a text write.
    - ``single_file=True`` coalesces to one partition for small exports (the
      reference always produces exactly one file); leave False at scale.
    """
    fmt = format_from_extension(output)
    out = df
    if cluster_by:
        # Range-partition + sort on the cluster keys: files carry disjoint
        # key ranges and row groups carry tight min/max stats, so readers
        # skip whole files/row-groups on those predicates — the cheap
        # z-order substitute for single-column clustering at 100 TB.
        # explicit partition count bypasses AQE coalescing (which would fold
        # small test datasets into one file); default sizes from shuffle conf
        if cluster_partitions:
            out = out.repartitionByRange(cluster_partitions, *cluster_by)
        else:
            out = out.repartitionByRange(*cluster_by)
        out = out.sortWithinPartitions(*cluster_by)
    if single_file:
        out = out.coalesce(1)
    writer = out.write.mode(mode)
    if partition_by:
        # Hive-style directory partitioning: the layout that lets downstream
        # scans partition-prune at 100 TB (e.g. partition a corpus by lang).
        if fmt in ("arrow",):
            raise ValueError("partition_by is not supported for arrow output")
        writer = writer.partitionBy(*partition_by)
    if fmt in ("arrow", "lance"):
        if options:
            raise ValueError(
                f"{fmt} output does not accept writer options: "
                f"{sorted(options)}"
            )
        # lance versions its dataset, so overwrite is left to write_dataset
        if not _claim_output(output, mode, fmt, clear=fmt == "arrow"):
            return output
        if fmt == "lance":
            # reference roadmap format (README.md:29-31); columnar+vector-
            # index store — needs the optional `lance` package
            try:
                import lance
            except ImportError as e:
                raise ValueError(
                    "lance output needs the 'pylance' package (pip install pylance)"
                ) from e
            lance.write_dataset(out.toArrow(), output, mode="overwrite")
            return output
        if single_file:
            # exactly one IPC file, reference-style, written on the driver
            import pyarrow as pa
            import pyarrow.ipc as ipc

            tbl = out.toArrow()
            with pa.OSFile(output, "wb") as f, ipc.new_file(f, tbl.schema) as w:
                w.write_table(tbl)
            return output
        # Distributed Arrow IPC writer (reference declares arrow output but
        # panics, lib.rs:138): one IPC file per partition written FROM THE
        # EXECUTORS via mapInArrow — no driver materialization, scales with
        # the cluster like any file sink.
        return _write_arrow_ipc_dir(out, output)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if fmt == "json" and explicit_nulls:
        # partition columns live in the directory layout, not the payload
        # (standard Hive-style behavior), so exclude them from the struct
        pcols = list(partition_by or [])
        payload = [c for c in out.columns if c not in pcols]
        text = out.select(
            *pcols,
            F.to_json(
                F.struct(*[F.col(c) for c in payload]),
                {"ignoreNullFields": "false"},
            ).alias("value"),
        )
        tw = text.write.mode(mode)
        for k, v in options.items():
            tw = tw.option(k, v)
        if pcols:
            tw = tw.partitionBy(*pcols)
        tw.text(output)
        return output
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(AVRO_FORMAT if fmt == "avro" else fmt).save(output)
    return output


def _claim_output(output: str, mode: str, fmt: str, clear: bool = True) -> bool:
    """Save-mode policy for the writers Spark does not manage (arrow,
    lance).  Returns False when ``mode='ignore'`` finds ``output`` already
    there.  ``append`` is rejected (no meaning for a single IPC file or a
    driver-side lance write), ``error`` / ``errorifexists`` raise on an
    existing path, and ``overwrite`` removes an existing file or directory
    first — whichever layout the previous write left — unless
    ``clear=False``."""
    import os
    import shutil

    if mode == "append":
        raise ValueError(f"mode='append' is not supported for {fmt} output")
    if not os.path.exists(output):
        return True
    if mode == "ignore":
        return False
    if mode in ("error", "errorifexists"):
        raise ValueError(f"output path already exists: {output!r}")
    if clear:
        if os.path.isdir(output):
            shutil.rmtree(output)
        else:
            os.remove(output)
    return True


def _write_arrow_ipc_dir(df: DataFrame, output: str) -> str:
    """Distributed Arrow IPC sink: every partition writes its own
    ``part-<pid>.arrow`` IPC file from the executor (``mapInArrow`` — Arrow
    batches never leave the JVM→worker boundary in row form), then the
    driver records a ``_manifest.json`` of (file, rows) from the 1-row-per-
    partition summary.  Partition 0 always writes a file, even when empty,
    so the schema survives empty results (reference parity: schema-only
    output files, ``tests/test_sinks.py::test_sqlite_empty_result``).
    Task retries rewrite the same deterministic per-partition path, so the
    layout is idempotent under replay.

    SHARED-FILESYSTEM REQUIREMENT: executors open ``output`` with plain
    ``open()``, so driver and executors must see the same path — true in
    local mode and on clusters whose ``output`` is NFS/FUSE-mounted
    storage, NOT on a plain multi-node cluster writing worker-local disks
    (the manifest would describe files the driver cannot see).  Cluster
    users without a shared mount should export parquet/ORC (distributed
    committers) instead; this sink targets the reference's local-file
    interchange use case (``src/lib.rs:127-141``).
    """
    import json
    import os

    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(output, exist_ok=True)
    # Serialize the Arrow schema driver-side so empty partitions can still
    # emit a schema-carrying file without having seen a batch.
    schema_hex = bytes(to_arrow_schema(df.schema).serialize()).hex()

    def write_part(batches):
        import pyarrow as pa
        import pyarrow.ipc as ipc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        schema = ipc.read_schema(pa.py_buffer(bytes.fromhex(schema_hex)))
        path = os.path.join(output, f"part-{pid:05d}.arrow")
        n_rows = 0
        writer = None
        sink = None
        try:
            for batch in batches:
                if writer is None:
                    sink = pa.OSFile(path, "wb")
                    writer = ipc.new_file(sink, schema)
                # conform to the driver schema: Spark marks every field
                # nullable on the driver, but mapInArrow batches can carry
                # ``not null`` fields the IPC writer would reject
                writer.write_batch(batch.cast(schema))
                n_rows += batch.num_rows
            if writer is None and pid == 0:
                sink = pa.OSFile(path, "wb")
                writer = ipc.new_file(sink, schema)  # schema-only file
        finally:
            if writer is not None:
                writer.close()
                sink.close()
        if writer is None:
            return  # empty non-zero partition: no file, no summary row
        yield pa.record_batch(
            [pa.array([os.path.basename(path)]), pa.array([n_rows], pa.int64())],
            names=["file", "n_rows"],
        )

    summary = df.mapInArrow(write_part, "file string, n_rows long").collect()
    manifest = {
        "format": "arrow-ipc-file",
        "files": sorted(
            ({"file": r.file, "n_rows": r.n_rows} for r in summary),
            key=lambda d: d["file"],
        ),
        "total_rows": sum(r.n_rows for r in summary),
        "schema": [
            {"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields
        ],
    }
    with open(os.path.join(output, "_manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return output
