"""Iceberg-shaped table-metadata snapshot scan (lake format #2).

Apache Iceberg describes table state as a METADATA TREE, not a replayed
log (the structural contrast to Delta, operators/deltalog.py):

    metadata.json  — table uuid, format-version, snapshot list,
                     current-snapshot-id
    └─ manifest-list (Avro)  — one entry per manifest file with
                               added/existing/deleted counts
       └─ manifest (Avro)    — one entry per data file with a status
                               (0 EXISTING / 1 ADDED / 2 DELETED),
                               path, record count, file size

A reader resolves the CURRENT snapshot from metadata.json, reads its
manifest list, then unions the non-deleted entries of each manifest —
no log replay; time travel = picking a different snapshot id.  This
module implements that walk on top of the repo's own Avro OCF decoder
(operators/avrocf.py) with a fetch callback per path (local file /
ranged GET on an object store).

Manifests use the SPEC's nested layout (round 9, closing the round-8
flattened-record deviation): each ``manifest_entry`` record carries
``status`` / optional ``snapshot_id`` and a nested ``data_file`` struct
(``content``, ``file_path``, ``file_format``, a ``partition`` tuple
record ``r102`` with one optional-string field per partition column,
``record_count``, ``file_size_in_bytes``) — decoded by avrocf's
nested-record support.  Manifest-list entries carry ``manifest_path``,
``manifest_length`` (VERIFIED against the fetched bytes),
``partition_spec_id``, ``added_snapshot_id``, ``content`` (0 data /
1 deletes) and ``sequence_number``, plus the three file counts.

Format-v2 row-level deletes (round 9): a DELETE manifest
(``content == 1``) lists POSITION DELETE files
(``data_file.content == 1``) — real parquet files of
``(file_path, pos)`` rows, fetched and decoded by the repo's own hand
parquet reader — and a delete applies to a data file exactly when
``delete.sequence_number >= data.sequence_number`` (the spec's
sequence-number rule, §Scan Planning).  EQUALITY DELETES (round 10):
``data_file.content == 2`` entries with an ``equality_ids`` int list
(Avro array) name value-predicates the SCAN applies by anti-join to
every data file with ``sequence_number`` STRICTLY below the delete's
— the spec's asymmetric rule.  Column-stat maps stay out of scope
(loudly absent, not guessed).  The
resolution ALGORITHM (version pointer → snapshot → manifest list →
manifests → status filter) is the spec's (iceberg.apache.org/spec/ —
public).

ValueError-only decode contract, like every decoder in the fleet.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable


def _bounds_type(rec_name: str) -> list:
    """The spec's column-bounds map layout in Avro manifests: an
    optional array of (key: field-id, value: serialized bound)
    records — Iceberg's own ``k126_v127``-style map encoding."""
    return [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": rec_name,
                "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "bytes"},
                ],
            },
        },
    ]


def _counts_type(rec_name: str) -> list:
    """The spec's per-column counts map layout (``null_value_counts``
    field 110, ``k121_v122``): an optional array of (key: field-id,
    value: long) records."""
    return [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": rec_name,
                "fields": [
                    {"name": "key", "type": "int"},
                    {"name": "value", "type": "long"},
                ],
            },
        },
    ]


def _manifest_schema(partition_fields: tuple[str, ...]) -> dict:
    """The spec's manifest_entry schema for a table partitioned by
    ``partition_fields`` (identity string transforms — the `r102`
    partition tuple has one optional field per column).
    ``lower_bounds``/``upper_bounds`` (round 11) are the per-column
    data-skipping inputs: field-id-keyed single-value serializations
    (8-byte little-endian for longs) the scan planner prunes on."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            # spec v2 sequence-number inheritance: null inherits the
            # manifest-list entry's sequence number; an explicit value
            # (rewrite_manifests' consolidated EXISTING entries) wins
            {"name": "sequence_number", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {"name": f, "type": ["null", "string"]}
                                    for f in partition_fields
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "equality_ids",
                            "type": ["null",
                                     {"type": "array", "items": "int"}],
                        },
                        {"name": "null_value_counts",
                         "type": _counts_type("k121_v122")},
                        {"name": "lower_bounds",
                         "type": _bounds_type("k126_v127")},
                        {"name": "upper_bounds",
                         "type": _bounds_type("k128_v129")},
                    ],
                },
            },
        ],
    }


_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},  # 0 data / 1 deletes
        {"name": "sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": ["null", "long"]},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}

_CONTENT_DATA, _CONTENT_POSITION_DELETES = 0, 1
_CONTENT_EQUALITY_DELETES = 2

_STATUS_EXISTING, _STATUS_ADDED, _STATUS_DELETED = 0, 1, 2
_MAX_FORMAT_VERSION = 2


def parse_table_metadata(text: str) -> dict:
    """metadata.json → ``{format_version, current_snapshot_id,
    snapshots: {id: manifest_list_path}, field_names, field_ids}``
    with loud validation.  ``field_names`` maps the current schema's
    field ids → column names (empty when the metadata carries no
    schema — older fixtures): the key the manifest bounds maps and
    ``equality_ids`` are resolved through."""
    obj = json.loads(text)  # JSONDecodeError IS ValueError
    if not isinstance(obj, dict):
        raise ValueError("table metadata is not an object")
    fv = obj.get("format-version")
    if not isinstance(fv, int) or isinstance(fv, bool):
        raise ValueError("format-version is not an integer")
    if fv > _MAX_FORMAT_VERSION:
        raise ValueError(
            f"table requires format-version {fv}; "
            f"this reader implements {_MAX_FORMAT_VERSION}"
        )
    cur = obj.get("current-snapshot-id")
    if not isinstance(cur, int) or isinstance(cur, bool):
        raise ValueError("current-snapshot-id missing")
    snaps = obj.get("snapshots")
    if not isinstance(snaps, list) or not snaps:
        raise ValueError("snapshots list missing")
    out: dict[int, str] = {}
    snap_ops: dict[int, str] = {}
    snap_ts: dict[int, int] = {}
    snap_parents: dict[int, int] = {}
    for s in snaps:
        if not isinstance(s, dict):
            raise ValueError("snapshot entry is not an object")
        sid = s.get("snapshot-id")
        ml = s.get("manifest-list")
        if not isinstance(sid, int) or not isinstance(ml, str) or not ml:
            raise ValueError("snapshot entry missing id/manifest-list")
        out[sid] = ml
        op = (s.get("summary") or {}).get("operation")
        if isinstance(op, str):
            snap_ops[sid] = op
        ts = s.get("timestamp-ms")
        if isinstance(ts, int) and not isinstance(ts, bool):
            snap_ts[sid] = ts
        par = s.get("parent-snapshot-id")
        if isinstance(par, int) and not isinstance(par, bool):
            snap_parents[sid] = par
    if cur not in out:
        raise ValueError("current-snapshot-id not in the snapshot list")
    refs: dict[str, dict] = {}
    raw_refs = obj.get("refs")
    if raw_refs is not None:
        # the spec's snapshot-references block (round 15 — WAP):
        # branch heads and tags by name
        if not isinstance(raw_refs, dict):
            raise ValueError("refs is not an object")
        for name, r in raw_refs.items():
            if (not isinstance(name, str) or not isinstance(r, dict)
                    or not isinstance(r.get("snapshot-id"), int)
                    or r.get("type") not in ("branch", "tag")):
                raise ValueError(f"malformed ref {name!r}")
            if r["snapshot-id"] not in out:
                raise ValueError(
                    f"ref {name!r} points at unknown snapshot "
                    f"{r['snapshot-id']}"
                )
            refs[name] = {"snapshot_id": r["snapshot-id"],
                          "type": r["type"]}
    field_names: dict[int, str] = {}
    field_types: dict[int, str] = {}
    schemas = obj.get("schemas")
    if schemas is not None:
        if not isinstance(schemas, list):
            raise ValueError("schemas is not a list")
        want_id = obj.get("current-schema-id", 0)
        for sc in schemas:
            if not isinstance(sc, dict) or not isinstance(
                sc.get("fields"), list
            ):
                raise ValueError("schema entry missing fields")
            if sc.get("schema-id", 0) != want_id:
                continue
            for f in sc["fields"]:
                fid, name = f.get("id"), f.get("name")
                if not isinstance(fid, int) or not isinstance(name, str):
                    raise ValueError("schema field missing id/name")
                field_names[fid] = name
                t = f.get("type")
                if isinstance(t, str):
                    field_types[fid] = t
    props = obj.get("properties") or {}
    if not isinstance(props, dict) or any(
        not isinstance(k, str) or not isinstance(v, str)
        for k, v in props.items()
    ):
        raise ValueError("table properties must be a string map")
    partition_spec: list[dict] = []
    specs = obj.get("partition-specs")
    if specs is not None:
        if not isinstance(specs, list):
            raise ValueError("partition-specs is not a list")
        want_spec = obj.get("default-spec-id", 0)
        for sp in specs:
            if not isinstance(sp, dict) or not isinstance(
                sp.get("fields"), list
            ):
                raise ValueError("partition spec missing fields")
            if sp.get("spec-id", 0) != want_spec:
                continue
            for f in sp["fields"]:
                name = f.get("name")
                tr = f.get("transform")
                src = f.get("source-name")
                if not isinstance(name, str) or not isinstance(tr, str):
                    raise ValueError(
                        "partition field missing name/transform")
                param = f.get("param")
                if param is not None and (
                    not isinstance(param, int) or isinstance(param, bool)
                ):
                    raise ValueError("partition field bad param")
                if param is None:
                    # spec-faithful metadata carries the width only
                    # inside the transform string ("bucket[16]")
                    pm = re.match(r"^(?:bucket|truncate)\[(\d+)\]$", tr)
                    if pm:
                        param = int(pm.group(1))
                partition_spec.append({
                    "name": name, "transform": tr,
                    "source": src if isinstance(src, str) else name,
                    "param": param,
                })
    return {
        "format_version": fv,
        "current_snapshot_id": cur,
        "snapshots": out,
        "field_names": field_names,
        "field_ids": {n: i for i, n in field_names.items()},
        "field_types": field_types,
        "properties": dict(props),
        "partition_spec": partition_spec,
        "snapshot_ops": snap_ops,
        "snapshot_ts": snap_ts,
        "snapshot_parents": snap_parents,
        "refs": refs,
    }


def snapshot_live_files(
    metadata_text: str,
    fetch: Callable[[str], bytes],
    snapshot_id: int | None = None,
) -> dict:
    """Resolve a snapshot (current by default — pass ``snapshot_id``
    for time travel) to its live file set.

    Returns ``{snapshot_id, n_manifests, n_live, n_deleted_entries,
    live_bytes, live_rows, live, partition_values, position_deletes,
    n_position_deletes, live_rows_after_deletes, file_stats,
    field_names, position_delete_files}`` with ``live`` a
    path-sorted ``{path: (size, rows)}``, ``partition_values`` the
    non-empty partition tuples per live path (None-valued columns
    kept — a null partition value is data), and ``position_deletes``
    the applied row positions per live data path (delete files from
    ``content == 1`` manifests, decoded by the hand parquet reader,
    applied only when ``delete.sequence_number >=
    data.sequence_number``).  ``file_stats`` (round 11) carries the
    manifests' ``lower_bounds``/``upper_bounds`` decoded to
    ``{path: {minValues: {col: int}, maxValues: ...}}`` — the SAME
    shape as the Delta replay's, so ``deltalog.prune_live_files``
    data-skips either format's snapshot; ids resolve through the
    metadata schema's ``field_names`` and undecodable or unmapped
    bounds are SKIPPED, never guessed.  Manifest-list counts AND
    ``manifest_length`` are CROSS-CHECKED against the manifests they
    describe (a stale or truncated manifest fails loudly instead of
    under-reporting the table)."""
    from .avrocf import parse_avro

    meta = parse_table_metadata(metadata_text)
    field_names = meta["field_names"]
    field_types = meta.get("field_types", {})

    def _decode_bounds(raw) -> dict[str, int | str]:
        out: dict[str, int | str] = {}
        for kv in raw or ():
            fid = kv.get("key")
            name = field_names.get(fid)
            val = kv.get("value")
            if name is None or not isinstance(val, (bytes, bytearray)):
                continue  # unmapped/undecodable: no stats, not wrong stats
            ftype = field_types.get(fid, "")
            if ftype.startswith("string"):
                try:
                    out[name] = bytes(val).decode("utf-8", "strict")
                except UnicodeDecodeError:
                    continue
            elif len(val) in (4, 8):  # int32/int64 single-value form
                out[name] = int.from_bytes(val, "little", signed=True)
        return out
    sid = meta["current_snapshot_id"] if snapshot_id is None else snapshot_id
    ml_path = meta["snapshots"].get(sid)
    if ml_path is None:
        raise ValueError(f"snapshot {sid} not in the table metadata")
    ml = parse_avro(fetch(ml_path))
    live: dict[str, tuple[int, int]] = {}
    pv: dict[str, dict] = {}
    fstats: dict[str, dict] = {}
    data_seq: dict[str, int] = {}
    # live delete FILES: path -> (sequence_number, record_count)
    live_deletes: dict[str, tuple[int, int]] = {}
    # equality deletes: path -> (sequence_number, record_count, ids)
    live_eq_deletes: dict[str, tuple[int, int, list[int]]] = {}
    n_deleted = 0
    for mf in ml["records"]:
        for k in ("manifest_path", "manifest_length",
                  "added_files_count",
                  "existing_files_count", "deleted_files_count"):
            if k not in mf:
                raise ValueError("manifest-list entry missing " + k)
        content = mf.get("content", _CONTENT_DATA) or _CONTENT_DATA
        seq = mf.get("sequence_number", 0) or 0
        if content not in (_CONTENT_DATA, _CONTENT_POSITION_DELETES):
            raise ValueError(
                f"manifest content {content} out of scope "
                "(equality deletes unsupported)"
            )
        m_bytes = fetch(mf["manifest_path"])
        if len(m_bytes) != mf["manifest_length"]:
            raise ValueError(
                f"manifest {mf['manifest_path']!r} is {len(m_bytes)} "
                f"bytes; its manifest-list entry declares "
                f"{mf['manifest_length']}"
            )
        m = parse_avro(m_bytes)
        counts = {_STATUS_EXISTING: 0, _STATUS_ADDED: 0, _STATUS_DELETED: 0}
        for e in m["records"]:
            st = e.get("status")
            if st not in counts:
                raise ValueError(f"manifest entry bad status {st!r}")
            counts[st] += 1
            # sequence-number inheritance (spec v2): an explicit
            # per-entry value wins over the manifest-list entry's
            eseq = e.get("sequence_number")
            eff_seq = eseq if isinstance(eseq, int) else seq
            df = e.get("data_file")
            if not isinstance(df, dict):
                raise ValueError("manifest entry missing data_file struct")
            path = df.get("file_path")
            if not isinstance(path, str) or not path:
                raise ValueError("manifest entry missing file_path")
            file_content = df.get("content", 0)
            if content == _CONTENT_POSITION_DELETES:
                if file_content not in (_CONTENT_POSITION_DELETES,
                                        _CONTENT_EQUALITY_DELETES):
                    raise ValueError(
                        "delete manifest lists a non-delete file"
                    )
                if st == _STATUS_DELETED:
                    n_deleted += 1
                    live_deletes.pop(path, None)
                    live_eq_deletes.pop(path, None)
                    continue
                rows = df.get("record_count")
                if not isinstance(rows, int):
                    raise ValueError(
                        "delete-file entry missing record_count"
                    )
                if file_content == _CONTENT_EQUALITY_DELETES:
                    ids = df.get("equality_ids")
                    if not isinstance(ids, list) or not ids or any(
                        not isinstance(i, int) for i in ids
                    ):
                        raise ValueError(
                            "equality-delete entry needs non-empty "
                            "equality_ids"
                        )
                    live_eq_deletes[path] = (eff_seq, rows, list(ids))
                else:
                    live_deletes[path] = (eff_seq, rows)
                continue
            if file_content != _CONTENT_DATA:
                raise ValueError("data manifest lists a delete file")
            if st == _STATUS_DELETED:
                n_deleted += 1
                live.pop(path, None)
                pv.pop(path, None)
                fstats.pop(path, None)
                data_seq.pop(path, None)
            else:
                size = df.get("file_size_in_bytes")
                rows = df.get("record_count")
                if not isinstance(size, int) or not isinstance(rows, int):
                    raise ValueError("manifest entry missing size/rows")
                live[path] = (size, rows)
                data_seq[path] = eff_seq
                part = df.get("partition")
                if part:
                    pv[path] = dict(part)
                else:
                    pv.pop(path, None)
                mins = _decode_bounds(df.get("lower_bounds"))
                maxs = _decode_bounds(df.get("upper_bounds"))
                # spec field 110 null_value_counts -> the shared
                # file_stats nullCount shape the IS [NOT] NULL
                # pruning lever consumes (round 14 — format parity
                # with Delta's add.stats.nullCount)
                ncs = {
                    field_names[kv["key"]]: kv["value"]
                    for kv in (df.get("null_value_counts") or ())
                    if kv.get("key") in field_names
                    and isinstance(kv.get("value"), int)
                }
                st: dict = {"numRecords": rows}
                if mins or maxs:
                    st["minValues"] = mins
                    st["maxValues"] = maxs
                if ncs:
                    st["nullCount"] = ncs
                if len(st) > 1:
                    fstats[path] = st
                else:  # a re-listed entry without stats clears them
                    fstats.pop(path, None)
        if (
            counts[_STATUS_ADDED] != mf["added_files_count"]
            or counts[_STATUS_EXISTING] != mf["existing_files_count"]
            or counts[_STATUS_DELETED] != mf["deleted_files_count"]
        ):
            raise ValueError(
                f"manifest {mf['manifest_path']!r} counts disagree with "
                "its manifest-list entry"
            )
    # apply live position-delete files (spec §Scan Planning: a delete
    # applies to data files with sequence_number <= the delete's)
    pos_del: dict[str, set[int]] = {}
    for dpath, (dseq, drows) in sorted(live_deletes.items()):
        from .parquetfmt import hand_read_table

        cols = hand_read_table(fetch(dpath))
        if "file_path" not in cols or "pos" not in cols:
            raise ValueError(
                f"position-delete file {dpath!r} lacks file_path/pos"
            )
        if len(cols["pos"]) != drows:
            raise ValueError(
                f"position-delete file {dpath!r} row count disagrees "
                "with its manifest entry"
            )
        for target, pos in zip(cols["file_path"], cols["pos"]):
            if target not in live:
                continue  # deletes for vanished files are inert
            if dseq < data_seq[target]:
                continue  # older delete cannot touch a newer data file
            if not isinstance(pos, int) or not (
                0 <= pos < live[target][1]
            ):
                raise ValueError(
                    f"position delete {pos!r} out of range for "
                    f"{target!r}"
                )
            pos_del.setdefault(target, set()).add(pos)
    n_pos = sum(len(s) for s in pos_del.values())
    live_rows = sum(r for _, r in live.values())
    eq_deletes = [
        {"path": p, "sequence_number": s, "record_count": r,
         "equality_ids": ids}
        for p, (s, r, ids) in sorted(live_eq_deletes.items())
    ]
    return {
        "snapshot_id": sid,
        "n_manifests": ml["n_records"],
        "n_live": len(live),
        "n_deleted_entries": n_deleted,
        "live_bytes": sum(s for s, _ in live.values()),
        "live_rows": live_rows,
        "live": dict(sorted(live.items())),
        "partition_values": dict(sorted(pv.items())),
        "position_deletes": {
            p: sorted(s) for p, s in sorted(pos_del.items())
        },
        "n_position_deletes": n_pos,
        "live_rows_after_deletes": live_rows - n_pos,
        # equality deletes are value-predicates, not row lists: the
        # SCAN applies them (anti-join on the named columns) to every
        # data file whose sequence number is STRICTLY LESS than the
        # delete's (spec §Scan Planning — note the asymmetry with
        # position deletes' >=: an equality delete never applies to
        # files committed with it in the same snapshot)
        "equality_deletes": eq_deletes,
        "n_equality_delete_files": len(eq_deletes),
        "data_sequence_numbers": dict(sorted(data_seq.items())),
        "file_stats": dict(sorted(fstats.items())),
        "field_names": dict(field_names),
        "position_delete_files": sorted(live_deletes),
        "position_delete_seqs": {
            p: s for p, (s, _) in sorted(live_deletes.items())
        },
        "position_delete_rows": {
            p: r for p, (_, r) in sorted(live_deletes.items())
        },
    }


def _encode_bounds(bounds: dict | None) -> list[dict] | None:
    """``{field_id: int | str}`` → the manifest's bounds-map rows with
    the spec's single-value serialization (8-byte little-endian longs;
    UTF-8 bytes for strings)."""
    if not bounds:
        return None
    return [
        {"key": int(fid),
         "value": (v.encode("utf-8") if isinstance(v, str)
                   else int(v).to_bytes(8, "little", signed=True))}
        for fid, v in sorted(bounds.items())
    ]


def _encode_counts(counts: dict | None) -> list[dict] | None:
    """``{field_id: int}`` → the manifest's counts-map rows (spec
    ``null_value_counts``, field 110)."""
    if not counts:
        return None
    return [{"key": int(fid), "value": int(v)}
            for fid, v in sorted(counts.items())]


def make_manifest(
    entries: list[dict], partition_fields: tuple[str, ...] = ()
) -> bytes:
    """A spec-layout manifest Avro file (fixture + sink writer).
    ``entries`` are the ergonomic flat form ``{status, file_path,
    record_count, file_size[, snapshot_id, partition, lower_bounds,
    upper_bounds]}`` (bounds as ``{field_id: int}``); this builder
    nests them into the spec's ``manifest_entry``/``data_file``
    records."""
    from .avrocf import make_avro

    nested = [
        {
            "status": e["status"],
            "snapshot_id": e.get("snapshot_id"),
            "sequence_number": e.get("sequence_number"),
            "data_file": {
                "content": e.get("content", 0),
                "file_path": e["file_path"],
                "file_format": e.get("file_format", "PARQUET"),
                "partition": {
                    f: (e.get("partition") or {}).get(f)
                    for f in partition_fields
                },
                "record_count": e["record_count"],
                "file_size_in_bytes": e["file_size"],
                "equality_ids": e.get("equality_ids"),
                "null_value_counts": _encode_counts(
                    e.get("null_value_counts")),
                "lower_bounds": _encode_bounds(e.get("lower_bounds")),
                "upper_bounds": _encode_bounds(e.get("upper_bounds")),
            },
        }
        for e in entries
    ]
    return make_avro(
        _manifest_schema(partition_fields),
        [nested] if nested else [[]],
    )


def make_manifest_list(manifests: list[dict]) -> bytes:
    """Spec-layout manifest list.  Each entry must carry
    ``manifest_length`` (the reader verifies it against the fetched
    manifest bytes); ``partition_spec_id``/``added_snapshot_id``
    default to 0/None, ``content`` to 0 (data) and
    ``sequence_number`` to 0."""
    from .avrocf import make_avro

    full = [
        {
            "manifest_path": m["manifest_path"],
            "manifest_length": m["manifest_length"],
            "partition_spec_id": m.get("partition_spec_id", 0),
            "content": m.get("content", _CONTENT_DATA),
            "sequence_number": m.get("sequence_number", 0),
            "added_snapshot_id": m.get("added_snapshot_id"),
            "added_files_count": m["added_files_count"],
            "existing_files_count": m["existing_files_count"],
            "deleted_files_count": m["deleted_files_count"],
        }
        for m in manifests
    ]
    return make_avro(
        _MANIFEST_LIST_SCHEMA, [full] if full else [[]]
    )


def make_equality_delete_parquet(columns: dict[str, list]) -> bytes:
    """A spec-shaped EQUALITY DELETE file: real parquet whose columns
    are the equality columns' values, one row per deleted key (pyarrow
    writer — the scan reads it back through Spark or the hand
    decoder)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(pa.table(columns), buf, compression="snappy")
    return buf.getvalue()


def make_position_delete_parquet(
    deletes: list[tuple[str, int]]
) -> bytes:
    """A spec-shaped POSITION DELETE file: real parquet with
    ``(file_path, pos)`` rows (pyarrow writer — the reader side is the
    repo's hand decoder)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({
            "file_path": pa.array([p for p, _ in deletes], pa.string()),
            "pos": pa.array([x for _, x in deletes], pa.int64()),
        }),
        buf, compression="snappy",
    )
    return buf.getvalue()


def make_table_metadata(
    snapshots: dict[int, str],
    current: int,
    format_version: int = 2,
    schema_fields: list[dict] | None = None,
    properties: dict[str, str] | None = None,
    partition_spec: list[dict] | None = None,
    snapshot_ops: dict[int, str] | None = None,
    snapshot_ts: dict[int, int] | None = None,
    table_dir: str | None = None,
    snapshot_parents: dict[int, int] | None = None,
    refs: dict[str, dict] | None = None,
) -> str:
    """``schema_fields`` (round 11) is the spec's schema block —
    ``[{id, name, type}, ...]`` — recorded so readers can resolve
    manifest bounds keys and ``equality_ids`` back to column names.
    ``properties`` (round 12) is the spec's string-map table
    properties block — a ``foreachBatch`` writer's exactly-once txn
    watermarks live there and every metadata rewrite carries them
    forward.  ``snapshot_ts`` (round 14) carries each snapshot's
    spec ``timestamp-ms`` — the in-log age
    `expire_snapshots_iceberg(older_than_hours=)` prefers over file
    mtime.  A snapshot ABSENT from the map is stamped from its
    manifest list's mtime when ``table_dir`` is given (ADVICE r14:
    stamping NOW would re-stamp every un-timestamped historical
    snapshot of a pre-round-14 table as born-now on the upgrade
    commit, deferring its expiry by hours; for the snapshot being
    committed the just-written manifest list's mtime IS now), and
    omitted otherwise (readers keep their mtime fallback)."""

    def _ts(sid: int, ml: str) -> dict:
        ts = (snapshot_ts or {}).get(sid)
        if ts is not None:
            return {"timestamp-ms": ts}
        if table_dir is not None:
            try:
                return {"timestamp-ms": int(os.path.getmtime(
                    os.path.join(table_dir, ml)) * 1000)}
            except OSError:
                pass
        return {}

    obj: dict = {
        "format-version": format_version,
        "current-snapshot-id": current,
        "snapshots": [
            {"snapshot-id": sid, "manifest-list": ml,
             **_ts(sid, ml),
             **({"parent-snapshot-id": snapshot_parents[sid]}
                if snapshot_parents
                and snapshot_parents.get(sid) is not None
                else {}),
             # the spec's snapshot summary: changelog consumers skip
             # 'replace' snapshots (compaction rewrites no logical
             # rows — round 13)
             **({"summary": {"operation": snapshot_ops[sid]}}
                if snapshot_ops and sid in snapshot_ops else {})}
            for sid, ml in sorted(snapshots.items())
        ],
    }
    if properties:
        obj["properties"] = dict(sorted(properties.items()))
    if refs:
        # the spec's snapshot-references block (round 15 — WAP):
        # branch heads and tags; "main" mirrors current-snapshot-id
        obj["refs"] = {
            name: {"snapshot-id": r["snapshot_id"], "type": r["type"]}
            for name, r in sorted(refs.items())
        }
    if partition_spec:
        # the spec's partition-specs block (round 13 — HIDDEN
        # partitioning): each field names its transform and source
        # column so readers can map predicates on the source column
        # onto partition-tuple pruning.  field-ids start at 1000 per
        # the spec's partition-field-id convention.
        obj["default-spec-id"] = 0
        obj["partition-specs"] = [{
            "spec-id": 0,
            "fields": [
                {"name": f["name"], "transform": f["transform"],
                 "source-name": f["source"],
                 "field-id": 1000 + i,
                 **({"param": f["param"]}
                    if f.get("param") is not None else {})}
                for i, f in enumerate(partition_spec)
            ],
        }]
    if schema_fields:
        obj["current-schema-id"] = 0
        obj["schemas"] = [{
            "type": "struct",
            "schema-id": 0,
            "fields": [
                {"id": f["id"], "name": f["name"], "required": False,
                 # an UNKNOWN type is omitted, never guessed: stamping
                 # 'string' on a legacy int column would flip its
                 # bound decoding to garbage (typeless fields fall
                 # back to the length-based int heuristic)
                 **({"type": f["type"]} if f.get("type") else {})}
                for f in schema_fields
            ],
        }]
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))
