"""The layer map: which public entry points the traced run wraps, and how
their spans become the per-layer metrics.

Span names and the engine module (layer) each belongs to:

==================== ================ =======================================
span                 layer            wrapped entry point
==================== ================ =======================================
log.list_log_files   delta.log        ``DeltaLog.list_log_files``
log.read_commit      delta.log        ``DeltaLog.read_commit``
log.read_checkpoint  delta.log        ``DeltaLog.read_checkpoint(_table)``
log.commit           delta.log        ``DeltaLog.commit``
snapshot.build       delta.snapshot   ``Snapshot.build``
table.resolve        delta.table      ``DeltaTable.__init__``
scan.to_df           delta.scan       ``DeltaScanBuilder.to_df``
spark.sql            pyspark          ``SparkSession.sql``
spark.collect        pyspark          ``DataFrame.collect`` / ``count``
writer.append        delta.writer     ``DeltaWriter.append``
writer.delete        delta.writer     ``DeltaWriter.delete``
writer.checkpoint    delta.writer     ``DeltaWriter.checkpoint``
changes.plan         delta.changes    ``DeltaTable.changes``
op                   client           one benchmark op (the root span)
==================== ================ =======================================

Every ``<span>.ms`` metric is that span's summed self time over the traced
ops divided by the number of traced ops, so the ``.ms`` metrics of one run
add up to the mean traced op latency. ``changes.collect.ms`` is the
``spark.collect`` self time spent inside change-feed ops, per traced op.
"""

from __future__ import annotations

from collections import defaultdict

from spans import Span, Tracer, self_times

SPAN_METRICS = {
    "log.list_log_files": "log.list_log_files.ms",
    "log.read_commit": "log.read_commit.ms",
    "log.read_checkpoint": "log.read_checkpoint.ms",
    "log.commit": "log.commit.ms",
    "snapshot.build": "snapshot.build.ms",
    "table.resolve": "table.resolve.ms",
    "scan.to_df": "scan.to_df.ms",
    "spark.sql": "spark.sql.ms",
    "spark.collect": "spark.collect.ms",
    "writer.append": "writer.append.ms",
    "writer.delete": "writer.delete.ms",
    "writer.checkpoint": "writer.checkpoint.ms",
    "changes.plan": "changes.plan.ms",
    "op": "op.self.ms",
}


def _snapshot_files(attrs: dict, args: tuple, snap) -> None:
    attrs["files"] = len(snap.files)


def _skip_report(attrs: dict, args: tuple, df) -> None:
    rep = args[0].skip_report()
    attrs["files_scanned"] = rep["files_scanned"]
    attrs["files_total"] = rep["files_total"]


def _commit_actions(attrs: dict, args: tuple, result) -> None:
    actions = args[2] if len(args) > 2 and isinstance(args[2], list) else []
    adds = [a["add"] for a in actions if a.get("add")]
    dvs = {}
    for a in adds:
        dv = a.get("deletionVector")
        if dv and dv.get("storageType") != "i":
            dvs[(dv["storageType"], dv["pathOrInlineDv"])] = dv
    attrs["adds"] = len(adds)
    attrs["dv_files"] = len(dvs)
    attrs["dv_bytes"] = sum(int(dv.get("sizeInBytes") or 0)
                            for dv in dvs.values())


def install(tracer: Tracer, spark) -> None:
    """Wrap every layer's public entry points (see the module table)."""
    from duckdb_delta_spark import DeltaLog, DeltaScanBuilder, DeltaTable
    from duckdb_delta_spark import DeltaWriter, Snapshot

    df_cls = type(spark.range(0))
    targets = [
        (DeltaLog, "list_log_files", "log.list_log_files", None),
        (DeltaLog, "read_commit", "log.read_commit", None),
        (DeltaLog, "read_checkpoint", "log.read_checkpoint", None),
        (DeltaLog, "read_checkpoint_table", "log.read_checkpoint", None),
        (DeltaLog, "commit", "log.commit", _commit_actions),
        (Snapshot, "build", "snapshot.build", _snapshot_files),
        (DeltaTable, "__init__", "table.resolve", None),
        (DeltaScanBuilder, "to_df", "scan.to_df", _skip_report),
        (type(spark), "sql", "spark.sql", None),
        (df_cls, "collect", "spark.collect", None),
        (df_cls, "count", "spark.collect", None),
        (DeltaWriter, "append", "writer.append", None),
        (DeltaWriter, "delete", "writer.delete", None),
        (DeltaWriter, "checkpoint", "writer.checkpoint", None),
        (DeltaTable, "changes", "changes.plan", None),
    ]
    for owner, attr, name, hook in targets:
        tracer.wrap(owner, attr, name, hook)


def per_layer(spans: list[Span], traced_ops: list[dict]) -> dict[str, float]:
    """Per-layer metrics from the spans of the traced ops."""
    n = len(traced_ops)
    if n == 0:
        raise ValueError("no traced ops")
    kinds = {r["id"]: r["kind"] for r in traced_ops}
    spans = [s for s in spans if s.op_id in kinds]
    st = self_times(spans)
    out: dict[str, float] = {m: 0.0 for m in SPAN_METRICS.values()}
    out["changes.collect.ms"] = 0.0
    calls: dict[str, int] = defaultdict(int)
    attrs: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        ms = st[s.id] * 1000.0
        out[SPAN_METRICS[s.name]] += ms
        if s.name == "spark.collect" and kinds[s.op_id] == "cdf":
            out["changes.collect.ms"] += ms
        calls[s.name] += 1
        attrs[s.name].append(s.attrs)
    for k in out:
        out[k] /= n
    snaps = attrs["snapshot.build"]
    scans = attrs["scan.to_df"]
    commits = attrs["log.commit"]
    scanned_total = sum(a.get("files_total", 0) for a in scans)
    out.update({
        "log.read_commit.calls": calls["log.read_commit"] / n,
        "snapshot.build.calls_per_op": calls["snapshot.build"] / n,
        "snapshot.files": (sum(a.get("files", 0) for a in snaps) / len(snaps)
                           if snaps else 0.0),
        "scan.files_scanned_ratio": (
            sum(a.get("files_scanned", 0) for a in scans) / scanned_total
            if scanned_total else 0.0),
        "writer.checkpoint.calls": calls["writer.checkpoint"] / n,
        "writer.files_per_commit": (
            sum(a.get("adds", 0) for a in commits) / len(commits)
            if commits else 0.0),
        "dv.files_written": sum(a.get("dv_files", 0) for a in commits) / n,
        "dv.bytes_written": sum(a.get("dv_bytes", 0) for a in commits) / n,
        "spark.jobs_per_op": sum(r.get("jobs", 0) for r in traced_ops) / n,
        "spark.tasks_per_op": sum(r.get("tasks", 0) for r in traced_ops) / n,
        "trace.spans_per_op": len(spans) / n,
    })
    return out
