"""Delta-protocol TABLE SINK — the write half of the lake surface.

The engine reads Delta tables (operators/deltalog.py resolves the log,
qcatalog/filescan.py scans only log-live files); this module WRITES
them, Spark-first and transactional:

1. data files: the DataFrame writes real parquet via Spark into a
   staging directory, then each part file moves into the table root
   under a versioned name; per-file ``numRecords`` comes from the
   repo's own footer reader (operators/parquetfmt.py) — the sink
   dogfoods the decode surface it ships;
2. the commit: a ``_delta_log/{version:020d}.json`` of protocol /
   metaData / add (/ remove for overwrites) actions, CLAIMED with the
   put-if-absent discipline real Delta requires — the commit file is
   ``os.link``-ed into place, which fails atomically if another writer
   claimed the version first (POSIX link(2) is the local-FS analogue
   of the object-store conditional put; the loser re-reads the log and
   retries with the next version);
3. ``metaData.schemaString`` is the DataFrame's OWN Spark schema JSON
   — which is exactly what Delta stores there, so the parity is
   genuine, not simulated;
4. every ``checkpoint_interval`` commits the sink writes a real
   checkpoint parquet + ``_last_checkpoint`` (operators/deltalog.py),
   so readers replay O(tail) instead of O(log).

``mode="append"`` adds files; ``mode="overwrite"`` additionally emits
removes for every file live in the snapshot the writer read — the
read-modify-claim window is exactly what the put-if-absent rename
protects.

Round 12: the sink READS ITS OWN CHECKPOINTS — `snapshot()` /
`snapshot_as_of` seed from the newest checkpoint parquet and replay
only the JSON tail (O(tail) per resolution; DML/CDF/RESTORE work on
retention-cleaned logs, and `cleanup_delta_log` performs that
retention), `read_changes` replays its range in ONE incremental pass
and synthesizes file-level rows for RESTORE commits, DELETE/UPDATE
compose the partition/stats/bloom pruning levers before scanning
(`_prune_dml_paths` over `analyze_condition`'s sound conjuncts), and
MERGE bounds its key scan by the source keys' min/max.

Public knowledge: delta-io PROTOCOL.md (commit files, actions,
checkpoints, optimistic concurrency).  Reference parity: the reference
overwrites csv/pickle outputs in place (data_clean.py); versioned
transactional output is its lake-scale replacement.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame

from ..session import CHECKPOINT_LEVEL
from ..operators.deltalog import (
    make_checkpoint_parquet,
    make_commit,
    make_last_checkpoint,
    read_checkpoint_parquet,
    replay_delta_log,
)


#: Hive/Spark's directory name for a NULL partition value.  Delta's
#: add.partitionValues records null as JSON null, not this literal.
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

_HEX_DIGITS = set("0123456789abcdefABCDEF")


def unescape_path_name(s: str) -> str:
    """Exact inverse of Spark's ``ExternalCatalogUtils.escapePathName``:
    decode ``%XX`` (two hex digits) to the single character it encodes;
    everything else is literal.  Generic URL unquoting is NOT the
    inverse — it decodes multi-byte UTF-8 %-sequences escapePathName
    never emits and silently drops malformed ones (ADVICE r10)."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if (
            c == "%"
            and i + 3 <= n
            and s[i + 1] in _HEX_DIGITS
            and s[i + 2] in _HEX_DIGITS
        ):
            out.append(chr(int(s[i + 1 : i + 3], 16)))
            i += 3
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _spark_partition_str(v) -> str:
    """A partition value as Spark prints it into the Hive dir name —
    NOT Python ``str()``: booleans are lowercase ('flag=true'), so a
    prune keyed off ``str(True)`` would silently miss the partition."""
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _parse_hive_partition_dirs(comps: list[str]) -> dict[str, str | None]:
    """``col=value`` directory components → partition values, with
    Spark's escaping undone and the null sentinel mapped to JSON null
    (what Delta stores on the add action)."""
    pvals: dict[str, str | None] = {}
    for comp in comps:
        if "=" not in comp:
            raise ValueError(
                f"staged file under non-partition dir {comp!r}"
            )
        k, _, v = comp.partition("=")
        pvals[unescape_path_name(k)] = (
            None if v == _HIVE_DEFAULT_PARTITION else unescape_path_name(v)
        )
    return pvals


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_delta_log")


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.json")


def read_log_commits(table_dir: str) -> list[str]:
    """The ordered JSON commit contents (version 0..N, gap-free)."""
    ld = _log_dir(table_dir)
    if not os.path.isdir(ld):
        return []
    versions = sorted(
        int(f[:-5]) for f in os.listdir(ld)
        if f.endswith(".json") and f[:-5].isdigit()
    )
    if versions != list(range(len(versions))):
        raise ValueError(f"delta log has version gaps: {versions}")
    return [
        open(_commit_path(table_dir, v), encoding="utf-8").read()
        for v in versions
    ]


def _json_versions(table_dir: str) -> list[int]:
    """Sorted JSON commit versions present on disk (possibly with a
    cleaned prefix — standard Delta log retention deletes commits
    below a checkpoint)."""
    ld = _log_dir(table_dir)
    if not os.path.isdir(ld):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(ld)
        if f.endswith(".json") and f[:-5].isdigit()
    )


def _checkpoint_versions(table_dir: str) -> list[int]:
    """Sorted versions with an on-disk checkpoint parquet."""
    ld = _log_dir(table_dir)
    if not os.path.isdir(ld):
        return []
    return sorted(
        int(f[: -len(".checkpoint.parquet")])
        for f in os.listdir(ld)
        if f.endswith(".checkpoint.parquet")
        and f[: -len(".checkpoint.parquet")].isdigit()
    )


def read_log_commits_from(table_dir: str, from_version: int) -> list[str]:
    """Ordered JSON commit contents for versions
    ``from_version..max``, requiring contiguity in that window (gaps
    BELOW ``from_version`` — a checkpoint-cleaned prefix — are fine;
    gaps inside the tail are corruption and raise)."""
    versions = [v for v in _json_versions(table_dir) if v >= from_version]
    if versions and versions != list(
        range(versions[0], versions[0] + len(versions))
    ):
        raise ValueError(f"delta log tail has version gaps: {versions}")
    if versions and versions[0] != from_version:
        raise ValueError(
            f"delta log is missing commits {from_version}.."
            f"{versions[0] - 1} above the checkpoint"
        )
    return [
        open(_commit_path(table_dir, v), encoding="utf-8").read()
        for v in versions
    ]


def _seed_from_checkpoint(table_dir: str, ck_version: int) -> dict:
    """Replay seeds from one checkpoint parquet, as kwargs for
    `replay_delta_log`."""
    payload = open(
        os.path.join(_log_dir(table_dir),
                     f"{ck_version:020d}.checkpoint.parquet"),
        "rb",
    ).read()
    (live, tombstones, pv, schema, dvs, fstats,
     app_versions, extras) = read_checkpoint_parquet(payload)
    return {
        "initial_live": live,
        "initial_tombstones": tombstones,
        "base_version": ck_version + 1,
        "initial_pv": pv,
        "initial_schema": schema,
        "initial_dv": dvs,
        "initial_stats": fstats,
        "initial_txn": app_versions,
        "initial_protocol": extras["protocol"],
        "initial_config": extras["configuration"],
        "initial_part_cols": extras["partition_columns"],
    }


def snapshot(table_dir: str) -> dict:
    """Current replay state of an on-disk table (empty-table shape for
    a missing log).

    CHECKPOINT FAST PATH (VERDICT r11 What's wrong #2): when the log
    carries checkpoints, the snapshot seeds from the NEWEST checkpoint
    parquet and replays only the JSON tail — O(tail) driver work per
    resolution instead of O(full log), and the only way to read a
    table whose pre-checkpoint JSON commits were cleaned by standard
    log retention.  Hash-equal to the full replay by
    `replay_from_checkpoint`'s contract (pinned in
    tests/test_deltalog.py)."""
    for attempt in (0, 1):
        try:
            cks = _checkpoint_versions(table_dir)
            if cks:
                ck = cks[-1]
                tail = read_log_commits_from(table_dir, ck + 1)
                return _mapped_snapshot_view(replay_delta_log(
                    tail, **_seed_from_checkpoint(table_dir, ck)
                ))
            commits = read_log_commits(table_dir)
            if not commits:
                return {"version": -1, "live": {}, "n_live": 0,
                        "live_rows": 0}
            return _mapped_snapshot_view(replay_delta_log(commits))
        except FileNotFoundError:
            # a concurrent cleanup_delta_log moved the log floor
            # between the listing and the read — re-list once (the
            # post-cleanup tree is self-consistent by construction)
            if attempt:
                raise
    raise AssertionError("unreachable")


def snapshot_as_of(table_dir: str, version: int) -> dict:
    """Replay state AS OF ``version`` (time travel for the sink's own
    verbs — RESTORE targets, CDF range seeds).  Seeds from the newest
    checkpoint at or below ``version`` when one exists; otherwise
    replays the JSON prefix, which must still be on disk (restoring
    past the log-retention horizon is impossible by construction —
    the same rule real Delta applies)."""
    if version < 0:
        raise ValueError("snapshot_as_of needs version >= 0")
    cks = [c for c in _checkpoint_versions(table_dir) if c <= version]
    if cks:
        ck = cks[-1]
        if ck == version:
            return _mapped_snapshot_view(replay_delta_log(
                [], **_seed_from_checkpoint(table_dir, ck)
            ))
        tail = read_log_commits_from(table_dir, ck + 1)
        want = version - ck
        if len(tail) < want:
            raise ValueError(
                f"version {version} beyond the log's last commit"
            )
        return _mapped_snapshot_view(replay_delta_log(
            tail[:want], **_seed_from_checkpoint(table_dir, ck)
        ))
    commits = read_log_commits(table_dir)
    if version >= len(commits):
        raise ValueError(
            f"version {version} outside versions 0..{len(commits) - 1}"
        )
    return _mapped_snapshot_view(
        replay_delta_log(commits[: version + 1]))


def _advance_replay(state: dict | None, text: str, version: int) -> dict:
    """Advance a replay state by ONE commit — the incremental step
    CDF and VACUUM carry version to version (O(1) per commit where a
    prefix replay is O(version))."""
    if state is None:
        return replay_delta_log([text], base_version=version)
    return replay_delta_log(
        [text],
        initial_live=state["live"],
        initial_tombstones=state["tombstones"],
        base_version=version,
        initial_pv=state["partition_values"],
        initial_schema=state.get("schema_json"),
        initial_dv=state.get("deletion_vectors"),
        initial_stats=state.get("file_stats"),
        initial_txn=state.get("app_versions"),
        initial_protocol=state.get("protocol"),
        initial_config=state.get("metadata_configuration"),
        initial_part_cols=state.get("partition_columns"),
    )


# ---------------------------------------------------------------------------
# GENERATED-COLUMN partitioning (round 13) — the Delta twin of Iceberg's
# hidden partitioning: a time/prefix-partitioned table partitions on a
# column GENERATED from a source column, with the expression recorded in
# the schema field's metadata under ``delta.generationExpression``
# (delta-io PROTOCOL.md "Generated Columns" / the public Delta docs).
# Writers derive the column; readers map predicates on the SOURCE column
# onto partition pruning through the same transform lever the Iceberg
# spec drives (`transform_constraint_spellings`).
# ---------------------------------------------------------------------------

_GEN_EXPR_KEY = "delta.generationExpression"
_GEN_DAY_RE = re.compile(
    r"^date_format\(\s*`?(\w+)`?\s*,\s*'yyyy-MM-dd'\s*\)$")
_GEN_TRUNC_STR_RE = re.compile(
    r"^substring\(\s*`?(\w+)`?\s*,\s*1\s*,\s*(\d+)\s*\)$")
_GEN_TRUNC_INT_RE = re.compile(
    r"^`?(\w+)`?\s*-\s*pmod\(\s*`?(\w+)`?\s*,\s*(\d+)\s*\)$")


def _generated_transforms(snap: dict) -> list[dict]:
    """Transform specs recovered from the recorded schema's
    ``delta.generationExpression`` metadata — only the canonical
    expression spellings THIS sink writes are recognized (anything
    else contributes no pruning, never a wrong prune)."""
    out: list[dict] = []
    if not snap.get("schema_json"):
        return out
    for f in json.loads(snap["schema_json"]).get("fields", []):
        e = (f.get("metadata") or {}).get(_GEN_EXPR_KEY)
        if not isinstance(e, str):
            continue
        m = _GEN_DAY_RE.match(e)
        if m:
            out.append({"name": f["name"], "transform": "day",
                        "source": m.group(1), "param": None})
            continue
        m = _GEN_TRUNC_STR_RE.match(e)
        if m:
            w = int(m.group(2))
            out.append({"name": f["name"],
                        "transform": f"truncate[{w}]",
                        "source": m.group(1), "param": w})
            continue
        m = _GEN_TRUNC_INT_RE.match(e)
        if m and m.group(1) == m.group(2):
            w = int(m.group(3))
            out.append({"name": f["name"],
                        "transform": f"truncate[{w}]",
                        "source": m.group(1), "param": w})
    return out


def _generation_expression_text(field: dict, df: DataFrame) -> str:
    """The canonical expression string recorded in the schema metadata
    for a partition transform — exactly what `_generated_transforms`
    parses back and `_apply_generated_columns` evaluates."""
    from pyspark.sql.types import IntegerType, LongType, ShortType, StringType

    src, t = field["source"], field["transform"]
    if t == "day":
        return f"date_format({src}, 'yyyy-MM-dd')"
    if t.startswith("truncate["):
        w = field["param"]
        dtype = dict((f.name, f.dataType) for f in df.schema.fields
                     ).get(src)
        if isinstance(dtype, StringType):
            return f"substring({src}, 1, {w})"
        if isinstance(dtype, (LongType, IntegerType, ShortType)):
            return f"{src} - pmod({src}, {w})"
        raise ValueError(
            f"truncate[{w}] supports string/int-family columns; "
            f"{src!r} is "
            f"{dtype.simpleString() if dtype else 'missing'}"
        )
    raise ValueError(
        f"the Delta sink supports days()/truncate() generated-column "
        f"partitioning; {t!r} (bucket) is the Iceberg sink's transform"
    )


def _apply_generated_columns(df: DataFrame,
                             gen_specs: list[dict]) -> DataFrame:
    """(Re)compute each generated partition column from its source —
    write-time derivation, and the UPDATE-path recompute that moves a
    row whose source column changed to its new partition."""
    from pyspark.sql import functions as F

    for f in gen_specs:
        df = df.withColumn(
            f["name"], F.expr(_generation_expression_text(f, df))
        )
    return df


def _patched_schema_string(df: DataFrame,
                           gen_specs: list[dict]) -> str:
    """``df.schema.json()`` with ``delta.generationExpression``
    stamped into each generated field's metadata — the schema contract
    appends are enforced against."""
    sch = json.loads(df.schema.json())
    exprs = {
        f["name"]: _generation_expression_text(f, df) for f in gen_specs
    }
    for fld in sch.get("fields", []):
        if fld["name"] in exprs:
            fld["metadata"] = {**(fld.get("metadata") or {}),
                               _GEN_EXPR_KEY: exprs[fld["name"]]}
    return json.dumps(sch)


# ---------------------------------------------------------------------------
# COLUMN MAPPING (round 15, VERDICT r14 next-round #3) — delta-io
# PROTOCOL.md "Column Mapping": every schema field carries a STABLE
# ``delta.columnMapping.physicalName`` (the name in the parquet files,
# add.partitionValues and add.stats) and a ``delta.columnMapping.id``;
# the logical name is free to change, so RENAME COLUMN is a
# metadata-only commit and DROP COLUMN just removes the field (the
# physical bytes stay in old files, unprojected).  The engine keeps
# LOGICAL names everywhere internally: `snapshot`/`snapshot_as_of`
# translate partitionValues/stats keys physical→logical once at the
# replay boundary, the parquet scan renames physical→logical from the
# schema metadata, and the staging pipeline renames logical→physical
# just before writing — no other code path knows mapping exists.
# ---------------------------------------------------------------------------

_CM_MODE_PROP = "delta.columnMapping.mode"
_CM_MAXID_PROP = "delta.columnMapping.maxColumnId"
_CM_ID_KEY = "delta.columnMapping.id"
_CM_PHYS_KEY = "delta.columnMapping.physicalName"


def _column_mapping(schema_json: str | None,
                    config: dict | None) -> dict | None:
    """``{"mode", "l2p", "p2l"}`` or None when mapping is off.  Both
    ``name`` and ``id`` modes resolve by physicalName here: Spark
    writes parquet columns under physicalName in either mode, and
    this sink stamps no parquet field ids (PROTOCOL.md allows
    name-based resolution for both)."""
    mode = (config or {}).get(_CM_MODE_PROP) or "none"
    if mode == "none":
        return None
    if mode not in ("name", "id"):
        raise ValueError(f"unknown column mapping mode {mode!r}")
    l2p: dict[str, str] = {}
    if schema_json:
        for f in json.loads(schema_json).get("fields", []):
            phys = (f.get("metadata") or {}).get(_CM_PHYS_KEY)
            l2p[f["name"]] = phys if isinstance(phys, str) else f["name"]
    return {"mode": mode, "l2p": l2p,
            "p2l": {v: k for k, v in l2p.items()}}


def _mapped_snapshot_view(state: dict) -> dict:
    """The snapshot with partitionValues / stats keys translated
    physical→logical (identity when mapping is off) — applied ONCE at
    the replay boundary so pruning levers, DML planning and partition
    re-attachment keep speaking logical names."""
    cm = _column_mapping(state.get("schema_json"),
                         state.get("metadata_configuration"))
    if cm is None:
        return state
    p2l = cm["p2l"]

    def tr(d: dict) -> dict:
        return {p2l.get(k, k): v for k, v in d.items()}

    out = dict(state)
    out["column_mapping"] = cm
    if state.get("partition_values"):
        out["partition_values"] = {
            p: tr(v) for p, v in state["partition_values"].items()
        }
    if state.get("file_stats"):
        fs = {}
        for p, st in state["file_stats"].items():
            st2 = dict(st or {})
            for k in ("minValues", "maxValues", "nullCount"):
                if isinstance(st2.get(k), dict):
                    st2[k] = tr(st2[k])
            fs[p] = st2
        out["file_stats"] = fs
    if state.get("partition_columns"):
        out["partition_columns"] = [
            p2l.get(c, c) for c in state["partition_columns"]
        ]
    return out


def _l2p_of(snap: dict) -> dict[str, str] | None:
    """The logical→physical rename the STAGING pipeline applies (None
    when mapping is off) — data files, partition dirs, stats and CDC
    files all store physical names."""
    cm = snap.get("column_mapping")
    return dict(cm["l2p"]) if cm else None


def _p2l_rename(df: DataFrame, state: dict | None) -> DataFrame:
    """Rename a parquet read's PHYSICAL columns back to logical using
    the state's column mapping (identity when off); columns the
    mapping doesn't know (``_change_type``) pass through."""
    cm = (state or {}).get("column_mapping")
    if not cm:
        return df
    from pyspark.sql import functions as F

    p2l = cm["p2l"]
    if not any(c in p2l and p2l[c] != c for c in df.columns):
        return df
    return df.select(*[
        F.col(f"`{c}`").alias(p2l.get(c, c)) for c in df.columns
    ])


def _carry_mapping_schema(schema_string: str,
                          pre: dict) -> tuple[str, dict | None]:
    """Patch an OUTGOING schemaString with the table's column-mapping
    metadata: existing fields carry their stable id/physicalName (by
    logical name), genuinely NEW fields get a fresh id and a
    ``col-<uuid>`` physical name, and maxColumnId advances.  Without
    this, an overwrite or merge_schema append would silently strip
    the mapping and stale-name every data file.  Returns
    ``(schema_string, config_patch)`` — identity when mapping is
    off."""
    if not pre.get("column_mapping"):
        return schema_string, None
    old_fields = {
        f["name"]: f
        for f in json.loads(pre["schema_json"]).get("fields", [])
    }
    sch = json.loads(schema_string)
    max_id = int((pre.get("metadata_configuration") or {})
                 .get(_CM_MAXID_PROP, 0) or 0)
    for f in sch.get("fields", []):
        prev_meta = (old_fields.get(f["name"]) or {}).get(
            "metadata") or {}
        if _CM_PHYS_KEY in prev_meta:
            f["metadata"] = {
                **(f.get("metadata") or {}),
                _CM_ID_KEY: prev_meta.get(_CM_ID_KEY),
                _CM_PHYS_KEY: prev_meta[_CM_PHYS_KEY],
            }
        elif _CM_PHYS_KEY not in (f.get("metadata") or {}):
            max_id += 1
            f["metadata"] = {
                **(f.get("metadata") or {}),
                _CM_ID_KEY: max_id,
                _CM_PHYS_KEY: f"col-{uuid.uuid4().hex[:16]}",
            }
    return (json.dumps(sch), {_CM_MAXID_PROP: str(max_id)})


def read_delta_table(spark, table_dir: str,
                     version: int | None = None) -> DataFrame:
    """The table's LIVE rows as a DataFrame — the one-call read path
    (round 13): resolve the snapshot (checkpoint-seeded; pass
    ``version`` for time travel), scan ONLY the live files with the
    DECLARED schema, re-attach partition columns from the log, and
    anti-join the deletion-vector dead positions.  This is the read
    contract every DML verb and test helper was composing by hand;
    a user of the reference switching to lake tables reads with this
    one-liner.  Columns come back in the declared order."""
    from pyspark.sql import functions as F

    snap = (snapshot(table_dir) if version is None
            else snapshot_as_of(table_dir, version))
    if not snap.get("live"):
        if snap.get("schema_json"):
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(snap["schema_json"]))
            )
        raise ValueError(f"{table_dir!r} has no live files and no "
                         "recorded schema")
    paths = sorted(snap["live"])
    pv = snap.get("partition_values", {})
    part_cols = sorted({c for p in paths for c in pv.get(p, {})})
    df = _scan_with_positions(spark, table_dir, paths,
                              snap.get("schema_json"), part_cols)
    df, _ = _attach_partition_columns(
        spark, df, table_dir, paths, pv, snap.get("schema_json"),
    )
    dead = _dead_positions_df(
        spark, table_dir,
        {_abs_uri(table_dir, p): d
         for p, d in snap.get("deletion_vectors", {}).items()},
    )
    if dead is not None:
        df = df.join(dead, ["__fp", "__ri"], "left_anti")
    df = df.drop("__fp", "__ri")
    if snap.get("schema_json"):
        order = [f["name"]
                 for f in json.loads(snap["schema_json"])["fields"]]
        df = df.select(*[c for c in order if c in df.columns])
    return df


def footer_int64_bounds(footer_meta: dict) -> tuple[dict, dict]:
    """Per-column file-level (min, max) for every INT64 column whose
    chunk statistics cover ALL row groups — a partial min is not a
    file min, so partially-covered columns are omitted rather than
    guessed.  Shared by both lake sinks (Delta ``add.stats``, Iceberg
    manifest ``lower_bounds``/``upper_bounds``)."""
    n_rgs = footer_meta["n_row_groups"]
    per_col: dict[str, list[tuple[int, int]]] = {}
    for st in footer_meta["int64_stats"]:
        per_col.setdefault(st["col"], []).append((st["min"], st["max"]))
    mins = {c: min(m for m, _ in v) for c, v in per_col.items()
            if len(v) == n_rgs}
    maxs = {c: max(m for _, m in v) for c, v in per_col.items()
            if len(v) == n_rgs}
    return mins, maxs


#: string bounds longer than this truncate (Delta's own stats default
#: is 32 chars) — a free-text column must not embed whole documents
#: into every add action / manifest entry.
_STRING_BOUND_CHARS = 32


def _truncate_upper(s: str, limit: int) -> str | None:
    """A valid UPPER bound at most ``limit+``: the prefix with its
    last character incremented (so it still sorts >= every string it
    covers — Iceberg's truncate-up rule).  None when untruncatable
    (all prefix chars at the max code point)."""
    if len(s) <= limit:
        return s
    chars = list(s[:limit])
    for j in range(len(chars) - 1, -1, -1):
        cp = ord(chars[j])
        if cp < 0x10FFFF:
            ncp = cp + 1
            if 0xD800 <= ncp <= 0xDFFF:
                ncp = 0xE000  # never step into the surrogate gap
            chars[j] = chr(ncp)
            return "".join(chars[: j + 1])
    return None


def footer_string_bounds(footer_meta: dict) -> tuple[dict, dict]:
    """Per-column file-level (min, max) for every BYTE_ARRAY column
    whose MODERN min_value/max_value stats cover all row groups and
    decode as strict UTF-8 — string keys (dates, ids, languages) are
    the other half of the 100 TB skipping story (round 11).  Long
    values TRUNCATE the way real writers do: the min to a prefix
    (still a valid lower bound), the max to a prefix with its last
    character incremented (still a valid upper bound) — pruning stays
    conservative while the metadata stays O(32 chars), not O(largest
    document)."""
    n_rgs = footer_meta["n_row_groups"]
    per_col: dict[str, list[tuple[str, str]]] = {}
    for st in footer_meta.get("binary_stats", ()):
        try:
            mn = st["min"].decode("utf-8", "strict")
            mx = st["max"].decode("utf-8", "strict")
        except UnicodeDecodeError:
            continue  # non-text binary: no proof, no stats
        per_col.setdefault(st["col"], []).append((mn, mx))
    mins = {}
    maxs = {}
    for c, v in per_col.items():
        if len(v) != n_rgs:
            continue
        hi = _truncate_upper(max(m for _, m in v), _STRING_BOUND_CHARS)
        if hi is None:
            continue  # untruncatable upper: no stats, not wrong stats
        mins[c] = min(m for m, _ in v)[:_STRING_BOUND_CHARS]
        maxs[c] = hi
    return mins, maxs


def footer_null_counts(footer_meta: dict) -> dict[str, int]:
    """Per-column file-level null counts for every column whose chunk
    statistics cover ALL row groups (partial coverage is not a file
    count, so partially-covered columns are omitted) — the spec's
    ``add.stats.nullCount`` input and the IS [NOT] NULL pruning
    lever's proof (round 13)."""
    n_rgs = footer_meta["n_row_groups"]
    per_col: dict[str, list[int]] = {}
    for st in footer_meta.get("null_stats", ()):
        per_col.setdefault(st["col"], []).append(st["nulls"])
    return {c: sum(v) for c, v in per_col.items() if len(v) == n_rgs}


def _file_stats(footer_meta: dict) -> str:
    """``add.stats`` JSON (PROTOCOL.md "Per-file Statistics") from the
    hand-parsed footer: numRecords always; minValues/maxValues from
    `footer_int64_bounds` + `footer_string_bounds`; nullCount from
    `footer_null_counts` (round 13).  These are the data-skipping
    inputs `prune_live_files` consumes: at scale, a key-clustered
    table answers a narrow range scan by opening a handful of
    files."""
    mins, maxs = footer_int64_bounds(footer_meta)
    smins, smaxs = footer_string_bounds(footer_meta)
    mins = {**mins, **smins}
    maxs = {**maxs, **smaxs}
    stats: dict = {"numRecords": footer_meta["n_rows"]}
    if mins:
        stats["minValues"] = dict(sorted(mins.items()))
        stats["maxValues"] = dict(sorted(maxs.items()))
    nulls = footer_null_counts(footer_meta)
    if nulls:
        stats["nullCount"] = dict(sorted(nulls.items()))
    return json.dumps(stats, sort_keys=True, separators=(",", ":"))


def stage_parquet_parts(
    df: DataFrame,
    table_dir: str,
    token: str,
    partition_by: list[str] | None = None,
    bloom_filter_cols: list[str] | None = None,
    dest_prefix: str = "",
) -> list[dict]:
    """The shared staging pipeline BOTH lake sinks build on: write
    ``df`` as parquet into a staging dir, move each non-empty part
    under ``dest_prefix`` (Hive-style ``col=value/`` subdirs when
    partitioned), and return per-file facts — relative path, size,
    row count, the partition values parsed back from the directory
    layout, and the footer meta (the bounds/stats inputs).  Zero-row
    parts (empty micro-batches) are dropped."""
    from ..operators.parquetfmt import parse_footer_tail, read_footer_tail

    stage = os.path.join(table_dir, f".stage-{uuid.uuid4().hex}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    for c in bloom_filter_cols or ():
        # parquet-mr's per-column split-block bloom filters — the
        # point-lookup skipping lever operators/bloom.py decodes
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}",
                               "true")
    writer.parquet(stage)
    parts: list[str] = []  # stage-relative paths
    for root, _dirs, fnames in os.walk(stage):
        rel_root = os.path.relpath(root, stage)
        for f in fnames:
            if f.startswith("part-") and f.endswith(".parquet"):
                parts.append(
                    f if rel_root == "." else os.path.join(rel_root, f)
                )
    parts.sort()
    out: list[dict] = []
    for i, relf in enumerate(parts):
        comps = relf.split(os.sep)[:-1]
        pvals = _parse_hive_partition_dirs(comps)
        if set(pvals) != set(partition_by or []):
            raise ValueError(
                f"staged partition dirs {sorted(pvals)} disagree with "
                f"partition_by {sorted(partition_by or [])}"
            )
        name = os.path.join(
            *([dest_prefix] if dest_prefix else []), *comps,
            f"part-{token}-{i:05d}.parquet",
        )
        src = os.path.join(stage, relf)
        with open(src, "rb") as fh:
            fh.seek(0, 2)
            flen = fh.tell()

            def _fetch(off, ln, _fh=fh):
                _fh.seek(off)
                return _fh.read(ln)

            meta = parse_footer_tail(read_footer_tail(_fetch, flen))
        if not meta["n_rows"]:
            continue  # an empty micro-batch's part adds nothing
        dest = os.path.join(table_dir, name)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(src, dest)
        out.append({"path": name.replace(os.sep, "/"), "size": flen,
                    "n_rows": meta["n_rows"], "partition_values": pvals,
                    "footer": meta})
    shutil.rmtree(stage, ignore_errors=True)
    return out


def stage_single_parquet(
    df: DataFrame, table_dir: str, dest_rel: str,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Stage ``df`` as EXACTLY ONE parquet file at ``dest_rel``
    (optionally sorted) and return ``(size, n_rows)`` from the footer
    — the shape delete-file writers need."""
    out = df.coalesce(1)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    parts = stage_parquet_parts(
        out, table_dir, uuid.uuid4().hex[:12]
    )
    if not parts:
        return (0, 0)
    (p,) = parts
    dest = os.path.join(table_dir, dest_rel)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    os.replace(os.path.join(table_dir, p["path"]), dest)
    return (p["size"], p["n_rows"])


def _to_physical(df: DataFrame, l2p: dict[str, str] | None):
    """Rename logical→physical just before staging (identity when
    mapping is off).  Extra columns the mapping doesn't know (CDC's
    ``_change_type``) pass through untouched."""
    if not l2p:
        return df
    from pyspark.sql import functions as F

    return df.select(*[
        F.col(f"`{c}`").alias(l2p.get(c, c)) for c in df.columns
    ])


def _stage_data_files(
    df: DataFrame,
    table_dir: str,
    token: str,
    partition_by: list[str] | None = None,
    bloom_filter_cols: list[str] | None = None,
    l2p: dict[str, str] | None = None,
) -> list[dict]:
    """Delta add-action bodies from the shared staging pipeline:
    per-file numRecords + data-skipping stats from the hand footer
    reader and ``partitionValues`` parsed back from the directory
    layout — exactly what Delta stores on the add action (the
    partition columns themselves are NOT in the data files; readers
    re-attach them from partitionValues).  Under column mapping
    (``l2p``) the staged files, partition dirs, stats and
    partitionValues all carry PHYSICAL names."""
    df = _to_physical(df, l2p)
    if l2p and partition_by:
        partition_by = [l2p.get(c, c) for c in partition_by]
    if l2p and bloom_filter_cols:
        bloom_filter_cols = [l2p.get(c, c) for c in bloom_filter_cols]
    return [
        {"path": p["path"], "size": p["size"],
         "numRecords": p["n_rows"],
         "partitionValues": p["partition_values"],
         "stats": _file_stats(p["footer"])}
        for p in stage_parquet_parts(
            df, table_dir, token, partition_by=partition_by,
            bloom_filter_cols=bloom_filter_cols,
        )
    ]


#: RFC-3986 path characters Hadoop's Path URI keeps raw (probed
#: against Spark's ``_metadata.file_path``): unreserved punctuation,
#: sub-delims, ``:`` and ``@``; everything else ASCII percent-encodes
#: (space → %20, % → %25, # → %23) while non-ASCII stays raw.
_URI_SAFE = set("/-._~!$&'()*+,;=:@")


def _abs_uri(table_dir: str, rel: str) -> str:
    """The ``_metadata.file_path`` form of a table-relative path —
    the Hadoop Path URI, NOT the raw OS path: a partition dir like
    ``cat=50%25off`` (Spark-escaped ``50%off``) surfaces in
    ``_metadata.file_path`` as ``cat=50%2525off``, so the join keys
    must quote the same way or every special-char partition silently
    misses."""
    p = os.path.abspath(os.path.join(table_dir, rel))
    out: list[str] = []
    for ch in p:
        if ch in _URI_SAFE or ord(ch) >= 0x80 or ch.isalnum():
            out.append(ch)
        else:
            out.append(
                "".join(f"%{b:02X}" for b in ch.encode("utf-8"))
            )
    return "file:" + "".join(out)


def _attach_partition_columns(
    spark,
    df: DataFrame,
    table_dir: str,
    paths: list[str],
    pv: dict[str, dict],
    schema_json: str | None = None,
):
    """Re-attach partition columns (they live on ``add.partitionValues``,
    NOT in the data files) by a BROADCAST JOIN against a tiny
    ``(file_path, value, ...)`` mapping DataFrame — O(1) plan size
    where a per-path ``create_map`` literal is an O(n_files)
    expression tree the analyzer must plan (VERDICT r10 What's wrong
    #2).  ``df`` must carry ``__fp`` (the scan's
    ``_metadata.file_path``).  Values are cast to the table schema's
    declared types when the snapshot carries one (Delta stores
    partitionValues as strings).  Returns ``(df, part_cols)``."""
    from pyspark.sql import functions as F

    part_cols = sorted({c for p in paths for c in pv.get(p, {})})
    if not part_cols:
        return df, []
    rows = [
        tuple([_abs_uri(table_dir, p)]
              + [pv.get(p, {}).get(c) for c in part_cols])
        for p in paths
    ]
    schema = ", ".join(
        ["__pv_fp string"] + [f"`{c}` string" for c in part_cols]
    )
    mapping = spark.createDataFrame(rows, schema)
    if schema_json:
        from pyspark.sql.types import StructType

        declared = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(schema_json)).fields
        }
        for c in part_cols:
            if c in declared:
                mapping = mapping.withColumn(
                    c, F.col(c).cast(declared[c])
                )
    out = df.join(
        F.broadcast(mapping),
        df["__fp"] == mapping["__pv_fp"],
        "left",
    ).drop("__pv_fp")
    return out, part_cols


_IDENT = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
_CMP_RE = re.compile(
    rf"^\s*{_IDENT}\s*(==|=|<=|>=|<|>)\s*(.+?)\s*$"
)
_IN_RE = re.compile(
    rf"^\s*{_IDENT}\s+IN\s*\((.*)\)\s*$", re.IGNORECASE
)
_BETWEEN_RE = re.compile(
    rf"^\s*{_IDENT}\s+BETWEEN\s+(.+?)\s+AND\s+(.+?)\s*$",
    re.IGNORECASE,
)
_ISNULL_RE = re.compile(
    rf"^\s*{_IDENT}\s+IS\s+(NOT\s+)?NULL\s*$", re.IGNORECASE
)


def _parse_sql_literal(tok: str):
    """``(ok, value)`` for a bare int/float/string SQL literal;
    anything else (column refs, functions, NULL, concatenations like
    ``'a' || 'b'``) is not a literal — an expression mistaken for a
    literal would prune files that DO match."""
    tok = tok.strip()
    if len(tok) >= 2 and tok[0] == tok[-1] == "'":
        inner = tok[1:-1]
        if "'" in inner.replace("''", ""):
            return False, None  # unescaped quote: not one literal
        return True, inner.replace("''", "'")
    if len(tok) >= 2 and tok[0] == tok[-1] == '"':
        inner = tok[1:-1]
        if '"' in inner:
            return False, None
        return True, inner
    try:
        return True, int(tok)
    except ValueError:
        pass
    try:
        return True, float(tok)
    except ValueError:
        return False, None


def _split_in_list(body: str) -> list[str]:
    """Split an IN-list body on TOP-LEVEL commas, quote- and
    paren-aware (ADVICE r12 low): ``'a,b','c'`` is two literals, not
    three tokens.  Same scanning rules as `_top_level_conjuncts`
    (doubled ``''`` escapes inside single quotes)."""
    out: list[str] = []
    depth = 0
    i = start = 0
    n = len(body)
    in_str: str | None = None
    while i < n:
        ch = body[i]
        if in_str:
            if ch == in_str:
                if ch == "'" and i + 1 < n and body[i + 1] == "'":
                    i += 2
                    continue
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(body[start:i])
            start = i + 1
        i += 1
    out.append(body[start:])
    return out


def _top_level_conjuncts(cond: str) -> list[str] | None:
    """Split on top-level AND, quote- and paren-aware.  Returns None
    when a top-level OR exists (OR binds looser than AND, so conjunct
    analysis would be unsound)."""
    out: list[str] = []
    depth = 0
    between_pending = 0
    i = start = 0
    n = len(cond)
    in_str: str | None = None

    def _is_word(j: int, w: str) -> bool:
        if cond[j:j + len(w)].upper() != w:
            return False
        before_ok = j == 0 or not (cond[j - 1].isalnum()
                                   or cond[j - 1] == "_")
        k = j + len(w)
        after_ok = k >= n or not (cond[k].isalnum() or cond[k] == "_")
        return before_ok and after_ok

    while i < n:
        ch = cond[i]
        if in_str:
            if ch == in_str:
                if ch == "'" and i + 1 < n and cond[i + 1] == "'":
                    i += 2
                    continue
                in_str = None
            i += 1
            continue
        if ch in ("'", '"'):
            in_str = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and _is_word(i, "OR"):
            return None  # top-level disjunction: no sound conjuncts
        elif depth == 0 and _is_word(i, "BETWEEN"):
            between_pending += 1
            i += 7
            continue
        elif depth == 0 and _is_word(i, "AND"):
            if between_pending:  # BETWEEN lo AND hi owns this AND
                between_pending -= 1
                i += 3
                continue
            out.append(cond[start:i])
            start = i + 3
            i += 3
            continue
        i += 1
    out.append(cond[start:])
    return out


def analyze_condition(cond: str) -> dict[str, dict]:
    """CONSERVATIVE constraint extraction from a Spark SQL predicate:
    ``{col: {"eq": set | None, "lo": v | None, "hi": v | None}}`` from
    the top-level AND conjuncts of the forms ``col <op> literal`` and
    ``col IN (literals)``.  Any conjunct it cannot read contributes no
    constraint (a conjunction only NARROWS the match set, so pruning
    on the readable subset is always sound); a top-level OR yields no
    constraints at all.  This is what lets the DML verbs compose the
    repo's pruning levers (VERDICT r11 What's wrong #3) without a SQL
    parser dependency."""
    conjuncts = _top_level_conjuncts(cond)
    if conjuncts is None:
        return {}
    out: dict[str, dict] = {}

    def slot(col: str) -> dict:
        return out.setdefault(
            col, {"eq": None, "lo": None, "hi": None, "null": None}
        )

    for c in conjuncts:
        m = _ISNULL_RE.match(c)
        if m:
            # col IS [NOT] NULL — the nullCount pruning lever's input
            slot(m.group(1))["null"] = m.group(2) is None
            continue
        m = _BETWEEN_RE.match(c)
        if m:
            col = m.group(1)
            ok_lo, lo = _parse_sql_literal(m.group(2))
            ok_hi, hi = _parse_sql_literal(m.group(3))
            if ok_lo and ok_hi:
                s_ = slot(col)
                try:
                    s_["lo"] = (lo if s_["lo"] is None
                                else max(s_["lo"], lo))
                    s_["hi"] = (hi if s_["hi"] is None
                                else min(s_["hi"], hi))
                except TypeError:
                    pass  # mixed-type bounds: keep the prior ones
            continue
        m = _IN_RE.match(c)
        if m:
            col, body = m.group(1), m.group(2)
            vals = []
            ok_all = True
            for tok in _split_in_list(body):
                ok, v = _parse_sql_literal(tok)
                if not ok:
                    ok_all = False
                    break
                vals.append(v)
            if ok_all and vals:
                s = slot(col)
                s["eq"] = (set(vals) if s["eq"] is None
                           else s["eq"] & set(vals))
            continue
        m = _CMP_RE.match(c)
        if not m:
            continue
        col, op, rhs = m.group(1), m.group(2), m.group(3)
        ok, v = _parse_sql_literal(rhs)
        if not ok:
            continue
        s = slot(col)
        if op in ("=", "=="):
            s["eq"] = ({v} if s["eq"] is None else s["eq"] & {v})
        elif op in ("<", "<="):
            s["hi"] = v if s["hi"] is None else min(s["hi"], v)
        elif op in (">", ">="):
            s["lo"] = v if s["lo"] is None else max(s["lo"], v)
    return out


#: Declared Spark types whose recorded footer stats / bloom hashes ARE
#: the logical values: int-family (INT32/INT64 physical == logical
#: value) and string (UTF-8 BYTE_ARRAY).  decimal(p<=18, s>0) columns
#: store UNSCALED ints (5.50 -> 550) and timestamps store epoch
#: micros, so comparing SQL literals against those raw encodings would
#: prune files that DO contain matches (ADVICE r12 high) — such
#: columns never stats- or bloom-prune.
_STATS_SAFE_INT = frozenset({"byte", "short", "integer", "long"})


def _schema_accepts(table_json: str, incoming_json: str) -> bool:
    """May rows of ``incoming_json``'s schema append under
    ``table_json``'s contract without evolving it?  Same fields, same
    types, same metadata — but an incoming NON-nullable field under a
    nullable contract is accepted (it is strictly safer; SQL INSERT
    literals arrive non-nullable), while nullable data under a
    non-nullable contract is not."""
    t = json.loads(table_json)
    i = json.loads(incoming_json)
    tf, inf = t.get("fields", []), i.get("fields", [])
    if len(tf) != len(inf):
        return False
    for a, b in zip(tf, inf):
        if a.get("name") != b.get("name") or a.get("type") != b.get("type"):
            return False
        if (a.get("metadata") or {}) != (b.get("metadata") or {}):
            return False
        if not a.get("nullable", True) and b.get("nullable", True):
            return False
    return True


def _stamped_commit(acts: list[dict]) -> str:
    """`make_commit` with the spec's wall-clock ``commitInfo.timestamp``
    (milliseconds) stamped onto the commitInfo action — the in-log age
    `vacuum_delta(retention_hours=)` prefers over file mtime, which
    survives copy/rsync/restore of the log directory (VERDICT r13
    next-round #8)."""
    import time

    ms = int(time.time() * 1000)
    for a in acts:
        ci = a.get("commitInfo")
        if isinstance(ci, dict):
            ci.setdefault("timestamp", ms)
    return make_commit(acts)


def _declared_from_snap(snap: dict) -> dict[str, str]:
    """``{column: schema-JSON type string}`` from the snapshot's
    declared Delta schema — the typed-coercion gate every pruning
    lever shares (complex struct types are skipped: never prunable)."""
    declared: dict[str, str] = {}
    if snap.get("schema_json"):
        for f in json.loads(snap["schema_json"]).get("fields", []):
            if isinstance(f.get("type"), str):
                declared[f["name"]] = f["type"]
    return declared


def _stats_prunable(declared_type, value) -> bool:
    """May ``value`` be range-compared against the raw footer-derived
    min/max recorded for a column of ``declared_type``?  Mirrors the
    `_partition_spellings` gate: int-family columns accept numeric
    literals (the stats are the logical ints), string columns accept
    string literals; every other declared type (decimal, timestamp,
    date, float, unknown) is NOT prunable — no proof, must scan."""
    if isinstance(value, bool):
        return False
    if declared_type in _STATS_SAFE_INT:
        return isinstance(value, (int, float)) or (
            type(value).__name__ == "Decimal"
        )
    if declared_type == "string":
        return isinstance(value, str)
    return False


def _prune_dml_paths(
    table_dir: str, snap: dict, condition: str, use_bloom: bool = True,
    declared: dict[str, str] | None = None,
    transforms: list[dict] | None = None,
) -> tuple[list[str], dict]:
    """Compose the repo's three pruning levers into DML scan planning
    (VERDICT r11 What's wrong #3): partition pruning for equality/IN
    constraints on partition columns, min/max data skipping for range
    constraints, and bloom point-lookup skipping for single-value
    equalities.  Files proven match-free are neither scanned nor
    re-added — a ``DELETE WHERE dt = yesterday`` on a date-partitioned
    100 TB table touches one partition's files.  All levers share the
    no-proof-must-scan contract, so results are byte-identical to the
    unpruned scan.  Returns ``(kept_paths, counts)``."""
    from ..operators.bloom import prune_files_by_bloom
    from ..operators.deltalog import prune_by_partition, prune_live_files

    cons = analyze_condition(condition)
    live = snap["live"]
    counts = {"n_candidates": len(live), "n_partition_skipped": 0,
              "n_stats_skipped": 0, "n_bloom_skipped": 0,
              "n_null_skipped": 0}
    if not cons:
        return sorted(live), counts
    part_cols = {
        c for v in snap.get("partition_values", {}).values() for c in v
    }
    # partition values are the STRING spellings of the Hive dir names;
    # a textual comparison is sound only when the declared column type
    # and the literal type spell values identically — int-family and
    # string columns do, float/date/timestamp may not (Spark's typed
    # filter coerces; a spelling mismatch would wrongly skip), so
    # those columns simply don't partition-prune here
    if declared is None:
        declared = _declared_from_snap(snap)
    _INT_TYPES = {"byte", "short", "integer", "long"}

    def _partition_spellings(col: str, vals: set) -> set[str] | None:
        t = declared.get(col)
        out: set[str] = set()
        for v in vals:
            if isinstance(v, bool):
                return None
            if t == "string" and isinstance(v, str):
                out.add(v)
            elif t in _INT_TYPES and isinstance(v, int):
                out.add(str(v))
            elif t in _INT_TYPES and isinstance(v, float) \
                    and v.is_integer():
                out.add(str(int(v)))
            else:
                return None  # unsure spelling: no proof, no pruning
        return out

    wanted = {}
    for c, cc in cons.items():
        if c in part_cols and cc["eq"]:
            sp = _partition_spellings(c, cc["eq"])
            if sp:
                wanted[c] = sp
    # HIDDEN-partitioning lever (round 13): a constraint on a
    # transform's SOURCE column maps to the derived partition field's
    # spellings — a ts-range DELETE on a days(ts) table opens only the
    # matching day partitions
    if transforms:
        from .iceberg_sink import transform_constraint_spellings

        by_source: dict[str, list[dict]] = {}
        for f in transforms:
            if f["transform"] != "identity" and f["name"] in part_cols:
                by_source.setdefault(f["source"], []).append(f)
        for c, cc in cons.items():
            for f in by_source.get(c, ()):
                sp = transform_constraint_spellings(
                    f, cc, src_type=declared.get(c))
                if sp is not None:
                    wanted[f["name"]] = (
                        wanted[f["name"]] & sp
                        if f["name"] in wanted else sp
                    )
    if wanted:
        r = prune_by_partition({**snap, "live": live}, wanted)
        counts["n_partition_skipped"] = r["n_skipped"]
        live = r["kept"]
    for c, cc in cons.items():
        try:
            if cc["eq"]:
                lo, hi = min(cc["eq"]), max(cc["eq"])
            else:
                lo, hi = cc["lo"], cc["hi"]
        except TypeError:
            continue  # mixed-type IN list: no sound bounds
        if lo is None and hi is None:
            continue
        if not all(_stats_prunable(declared.get(c), v)
                   for v in (lo, hi) if v is not None):
            continue  # decimal/timestamp/... stats are raw encodings
        r = prune_live_files({**snap, "live": live}, c, lo=lo, hi=hi)
        counts["n_stats_skipped"] += r["n_skipped"]
        live = r["kept"]
    # nullCount lever (round 13): IS NULL skips files recording zero
    # nulls for the column, IS NOT NULL skips all-null files — the
    # spec's add.stats.nullCount made load-bearing.  Files without the
    # stat are kept (no proof, must scan).
    fstats = snap.get("file_stats", {})
    for c, cc in cons.items():
        if cc.get("null") is None:
            continue
        kept_n: dict[str, tuple[int, int]] = {}
        for path, meta in live.items():
            st = fstats.get(path) or {}
            nc = (st.get("nullCount") or {}).get(c)
            nr = st.get("numRecords")
            if nc is None:
                kept_n[path] = meta
            elif cc["null"] and nc == 0:
                counts["n_null_skipped"] += 1
            elif not cc["null"] and nr is not None and nc == nr:
                counts["n_null_skipped"] += 1
            else:
                kept_n[path] = meta
        live = kept_n
    if use_bloom:
        for c, cc in cons.items():
            if cc["eq"] and len(cc["eq"]) == 1:
                (v,) = cc["eq"]
                if isinstance(v, bool) or not isinstance(v, (int, str)):
                    continue  # float/bool probes can't use the filter
                t = declared.get(c)
                # the written bloom hashes the PHYSICAL encoding: an
                # int probe is sound only against an int-family column,
                # a string probe only against a string column — a
                # decimal column hashes unscaled ints, so a logical
                # probe would wrongly prove absence (ADVICE r12 high)
                if not ((t in _STATS_SAFE_INT and isinstance(v, int))
                        or (t == "string" and isinstance(v, str))):
                    continue
                r = prune_files_by_bloom(table_dir, live, c, v)
                counts["n_bloom_skipped"] += r["n_skipped"]
                live = r["kept"]
    return sorted(live), counts


def _scan_with_positions(spark, table_dir: str, paths: list[str],
                         schema_json: str | None = None,
                         part_cols=()) -> DataFrame:
    """The table's physical rows with ``__fp``/``__ri`` file-position
    columns (parquet ``_metadata``) materialized up front, so joins
    downstream can't lose the hidden metadata column.

    ``schema_json`` (round 12): read with the TABLE's declared schema
    (minus its partition columns, which live in the layout, not the
    files) — on a schema-EVOLVED table the files' schemas differ and a
    bare multi-file read takes one file's schema, dropping (or failing
    on) columns the other generation carries; the declared schema is
    the read contract and fills missing columns with nulls."""
    from pyspark.sql import functions as F

    reader = spark.read
    p2l: dict[str, str] = {}
    if schema_json:
        from pyspark.sql.types import StructType

        cm = _column_mapping(schema_json, {_CM_MODE_PROP: "name"})
        l2p = cm["l2p"] if cm else {}
        declared = StructType.fromJson(json.loads(schema_json))
        data_fields = []
        for f in declared.fields:
            if f.name in set(part_cols):
                continue
            phys = l2p.get(f.name, f.name)
            if phys != f.name:
                p2l[phys] = f.name
                f = type(f)(phys, f.dataType, f.nullable)
            data_fields.append(f)
        reader = reader.schema(StructType(data_fields))
    out = reader.parquet(
        *[os.path.join(table_dir, p) for p in paths]
    ).select(
        F.col("_metadata.file_path").alias("__fp"),
        F.col("_metadata.row_index").alias("__ri"),
        "*",
    )
    if p2l:
        # column mapping: the files store PHYSICAL names; rename back
        # to the logical contract right at the scan boundary
        out = out.select(*[
            F.col(f"`{c}`").alias(p2l.get(c, c)) for c in out.columns
        ])
    return out


def _dead_positions_df(spark, table_dir: str, dv_abs: dict[str, dict]):
    """``(__fp, __ri)`` rows of existing DV tombstones, EXPANDED ON
    EXECUTORS from O(files) descriptor rows — the driver ships
    descriptors, never positions.  ``dv_abs`` keys are
    ``_metadata.file_path``-form URIs.  Returns None when empty."""
    if not dv_abs:
        return None
    rows = [(fp, json.dumps(d, sort_keys=True)) for fp, d in
            sorted(dv_abs.items())]
    tdir = table_dir

    def _expand(batches):
        import json as _json
        import os as _os

        import pandas as _pd

        from hainan_big_data_recommend_system_spark.operators.deltalog import (
            resolve_deletion_vector,
        )

        def _fetch(p):
            return open(_os.path.join(tdir, p), "rb").read()

        for pdf in batches:
            for fp, dj in zip(pdf["__fp"], pdf["desc"]):
                pos = resolve_deletion_vector(_json.loads(dj), _fetch)
                if pos:
                    yield _pd.DataFrame({"__fp": fp, "__ri": pos})

    return (
        spark.createDataFrame(rows, "__fp string, desc string")
        .repartition("__fp")
        .mapInPandas(_expand, "__fp string, __ri long")
    )


def _build_dv_updates(
    spark,
    matched: DataFrame,
    table_dir: str,
    abs_to_rel: dict[str, str],
    old_dvs: dict[str, dict],
) -> dict[str, tuple[bytes, int, int]]:
    """Merged deletion vectors built ON EXECUTORS (VERDICT r10 What's
    wrong #1 — the repo's last unbounded driver collect).  ``matched``
    is a ``(__fp, __ri)`` DataFrame of rows to tombstone; each file's
    group serializes its roaring DV — the prior DV (resolved from the
    table's own sidecar/inline descriptors, shipped as ONE joined JSON
    column) unioned in — inside an ``applyInPandas`` kernel.  The
    driver collects only ``(path, dv_bytes, cardinality, n_fresh)``:
    O(touched files), never O(matched rows).  A DELETE matching 1% of
    a 100 TB table therefore collects megabytes of bitmaps, not
    billions of int64 positions.  Returns
    ``{rel_path: (dv_bytes, cardinality, n_fresh)}`` for files with at
    least one newly-dead row."""
    from pyspark.sql import functions as F

    prior_rows = [
        (_abs_uri(table_dir, p), json.dumps(old_dvs[p], sort_keys=True))
        for p in sorted(old_dvs)
    ]
    if prior_rows:
        prior_df = spark.createDataFrame(
            prior_rows, "__fp string, __prior string"
        )
        matched = matched.join(F.broadcast(prior_df), "__fp", "left")
    else:
        matched = matched.withColumn(
            "__prior", F.lit(None).cast("string")
        )
    tdir = table_dir

    def _kernel(pdf):
        import json as _json
        import os as _os

        import pandas as _pd

        from hainan_big_data_recommend_system_spark.operators.deltalog import (
            make_deletion_vector,
            resolve_deletion_vector,
        )

        fp = pdf["__fp"].iloc[0]
        pos = {int(x) for x in pdf["__ri"]}
        prior: set[int] = set()
        prior_json = pdf["__prior"].iloc[0]
        if isinstance(prior_json, str) and prior_json:
            prior = set(resolve_deletion_vector(
                _json.loads(prior_json),
                lambda p: open(_os.path.join(tdir, p), "rb").read(),
            ))
        merged = sorted(prior | pos)
        return _pd.DataFrame([{
            "__fp": fp,
            "dv": make_deletion_vector(merged),
            "cardinality": len(merged),
            "n_fresh": len(pos - prior),
        }])

    rows = (
        matched.groupBy("__fp")
        .applyInPandas(
            _kernel,
            "__fp string, dv binary, cardinality long, n_fresh long",
        )
        .collect()
    )
    out: dict[str, tuple[bytes, int, int]] = {}
    for r in rows:
        rel = abs_to_rel.get(r["__fp"])
        if rel is None:
            raise ValueError(f"scan returned unknown file {r['__fp']!r}")
        if r["n_fresh"]:
            out[rel] = (bytes(r["dv"]), int(r["cardinality"]),
                        int(r["n_fresh"]))
    return out


def _dv_descriptors(
    updates: dict[str, tuple[bytes, int, int]],
    table_dir: str,
    inline_threshold: int,
    token: str,
) -> dict[str, dict]:
    """DV descriptors from executor-built bitmaps: small DVs inline
    into the log as z85 (storageType ``i``); larger ones share one
    ``.bin`` sidecar per commit (storageType ``p``, CRC-32 framed)."""
    from ..operators.deltalog import (
        make_dv_descriptor_inline_bytes,
        make_dv_file,
    )

    descs: dict[str, dict] = {}
    sidecar: list[tuple[str, bytes, int]] = []
    for rel in sorted(updates):
        dv, card, _ = updates[rel]
        if len(dv) <= inline_threshold:
            descs[rel] = make_dv_descriptor_inline_bytes(dv, card)
        else:
            sidecar.append((rel, dv, card))
    if sidecar:
        payload, offsets = make_dv_file([dv for _, dv, _ in sidecar])
        dv_name = f"deletion_vector_{token}.bin"
        with open(os.path.join(table_dir, dv_name), "wb") as fh:
            fh.write(payload)
        for (rel, dv, card), off in zip(sidecar, offsets):
            descs[rel] = {
                "storageType": "p", "pathOrInlineDv": dv_name,
                "offset": off, "sizeInBytes": len(dv),
                "cardinality": card,
            }
    return descs


def _conflicting_paths(snap: dict, cur: dict, rels) -> list[str]:
    """The retry loop's logical-conflict rule (ADVICE r10 medium): a
    concurrent DV delete commits as remove+re-add of the SAME path, so
    liveness alone misses it.  A touched path conflicts when it is no
    longer live, its (size, numRecords) moved, or its deletion-vector
    descriptor is not the one this writer's descriptors were computed
    against."""
    snap_dvs = snap.get("deletion_vectors", {})
    cur_dvs = cur.get("deletion_vectors", {})
    return [
        p for p in rels
        if p not in cur["live"]
        or cur["live"][p] != snap["live"].get(p)
        or cur_dvs.get(p) != snap_dvs.get(p)
    ]


def _stage_cdc_files(
    df: DataFrame, table_dir: str, token: str, tag: str,
    l2p: dict[str, str] | None = None,
) -> list[dict]:
    """Write change rows (with their ``_change_type`` column) as
    parquet under ``_change_data/`` and return cdc action bodies
    (PROTOCOL.md "Change Data Files" — ``dataChange`` must be false:
    CDF rows describe the change, they are not table data).
    Zero-row part files are dropped.  Under column mapping the change
    files store PHYSICAL names (``_change_type`` passes through)."""
    from ..operators.parquetfmt import parse_footer_tail, read_footer_tail

    df = _to_physical(df, l2p)
    stage = os.path.join(table_dir, f".stage-cdc-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(stage)
    parts = sorted(
        f for f in os.listdir(stage)
        if f.startswith("part-") and f.endswith(".parquet")
    )
    cdc_dir = os.path.join(table_dir, "_change_data")
    actions: list[dict] = []
    i = 0
    for f in parts:
        src = os.path.join(stage, f)
        with open(src, "rb") as fh:
            fh.seek(0, 2)
            flen = fh.tell()

            def _fetch(off, ln, _fh=fh):
                _fh.seek(off)
                return _fh.read(ln)

            meta = parse_footer_tail(read_footer_tail(_fetch, flen))
        if not meta["n_rows"]:
            continue
        rel = f"_change_data/cdc-{token}-{tag}-{i:05d}.parquet"
        i += 1
        os.makedirs(cdc_dir, exist_ok=True)
        os.replace(src, os.path.join(table_dir, rel))
        actions.append({"cdc": {
            "path": rel, "partitionValues": {}, "size": flen,
            "dataChange": False,
        }})
    shutil.rmtree(stage, ignore_errors=True)
    return actions


def _claim_version(table_dir: str, version: int, body: str,
                   token: str) -> bool:
    """Put-if-absent commit claim: link(2) fails atomically if another
    writer claimed this version first (the local-FS analogue of the
    object-store conditional put PROTOCOL.md requires)."""
    tmp = _commit_path(table_dir, version) + f".tmp-{token}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(body)
    try:
        os.link(tmp, _commit_path(table_dir, version))
    except FileExistsError:
        os.unlink(tmp)
        return False
    os.unlink(tmp)
    return True


def _maybe_checkpoint(table_dir: str, version: int,
                      checkpoint_interval: int) -> None:
    if not checkpoint_interval or (version + 1) % checkpoint_interval:
        return
    state = snapshot(table_dir)  # itself checkpoint-seeded: O(tail)
    if state.get("version") != version:
        # a concurrent writer's version+1 commit landed between our
        # claim and this snapshot — folding it into a checkpoint named
        # {version} would mislabel history (snapshot_as_of would seed
        # time travel from the wrong state and the tail replay would
        # double-apply the first extra commit).  Skip; the NEXT
        # multiple-of-interval commit writes a correct checkpoint
        # (ADVICE r12 medium).
        return
    ck = make_checkpoint_parquet(state)
    ck_path = os.path.join(
        _log_dir(table_dir), f"{version:020d}.checkpoint.parquet"
    )
    with open(ck_path + ".tmp", "wb") as fh:
        fh.write(ck)
    os.replace(ck_path + ".tmp", ck_path)
    with open(
        os.path.join(_log_dir(table_dir), "_last_checkpoint"),
        "w", encoding="utf-8",
    ) as fh:
        fh.write(make_last_checkpoint(version, len(ck)))


#: Writer features implied by each legacy minWriterVersion
#: (cumulative — PROTOCOL.md "Table Features": upgrading to writer
#: version 7 must list every feature the prior version implied).
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"appendOnly", "invariants", "checkConstraints"},
    4: {"appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns"},
    5: {"appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping"},
    6: {"appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping",
        "identityColumns"},
}
_CDF_PROP = "delta.enableChangeDataFeed"


def _upgrade_actions(
    table_dir: str, cur: dict, acts: list[dict],
) -> list[dict]:
    """PROTOCOL feature declaration for DV/CDF-bearing commits
    (VERDICT r12 What's wrong #1): a commit introducing deletion
    vectors or change data files on a table still declaring
    ``{minReaderVersion: 1, minWriterVersion: 2}`` would be opened by
    an external spec-compliant reader at protocol v1 — it would read
    the re-added files WITHOUT their DVs and resurrect DELETEd rows.

    The first such commit therefore carries the upgrade in the same
    atomic claim: ``minReaderVersion: 3`` + ``readerFeatures:
    ["deletionVectors"]`` when a reader-relevant feature is needed,
    ``minWriterVersion: 7`` + ``writerFeatures`` (the new features
    plus the prior writer version's implied legacy features), and —
    the first time change data is written — a metaData action whose
    ``configuration`` sets ``delta.enableChangeDataFeed`` (PROTOCOL.md
    gates CDF behind the table property, not just the feature flag).
    Later commits see the features already declared and pass through
    untouched."""
    needs_dv = any(
        "add" in a and a["add"].get("deletionVector") for a in acts
    )
    needs_cdf = any("cdc" in a for a in acts)
    if not needs_dv and not needs_cdf:
        return acts
    prior = cur.get("protocol") or {"minReaderVersion": 1,
                                    "minWriterVersion": 2}
    have_r = set(prior.get("readerFeatures") or ())
    have_w = set(prior.get("writerFeatures") or ())
    want_r = {"deletionVectors"} if needs_dv else set()
    want_w = set(want_r)
    if needs_cdf:
        want_w.add("changeDataFeed")
    out = list(acts)
    if not (want_r <= have_r and want_w <= have_w):
        legacy_w = (
            _LEGACY_WRITER_FEATURES.get(
                prior.get("minWriterVersion", 2), set()
            )
            if prior.get("minWriterVersion", 2) < 7 else set()
        )
        proto = {
            "minWriterVersion": 7,
            "writerFeatures": sorted(have_w | want_w | legacy_w),
        }
        if want_r or have_r or prior.get("minReaderVersion", 1) >= 3:
            proto["minReaderVersion"] = 3
            proto["readerFeatures"] = sorted(have_r | want_r)
        else:  # writer-only features: the reader requirement is
            proto["minReaderVersion"] = prior.get("minReaderVersion", 1)
        out = ([{"protocol": proto}]
               + [a for a in out if "protocol" not in a])
    cfg = dict(cur.get("metadata_configuration") or {})
    if needs_cdf and cfg.get(_CDF_PROP) != "true":
        cfg[_CDF_PROP] = "true"
        for i, a in enumerate(out):
            if "metaData" in a:
                md = dict(a["metaData"])
                md["configuration"] = {
                    **(md.get("configuration") or {}), _CDF_PROP: "true"
                }
                out[i] = {"metaData": md}
                break
        else:
            if cur.get("schema_json"):
                part_cols = cur.get("partition_columns")
                if part_cols is None:
                    # pre-r13 checkpoints didn't persist the ordered
                    # metaData.partitionColumns; the sorted column set
                    # of the live layout is the only recoverable form
                    part_cols = sorted({
                        c for v in cur.get(
                            "partition_values", {}).values() for c in v
                    })
                md = {
                    "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": cur["schema_json"],
                    "partitionColumns": part_cols,
                    "configuration": cfg,
                }
                k = 1 if out and "protocol" in out[0] else 0
                out.insert(k, {"metaData": md})
    return out


_MIDNIGHT_RE = re.compile(
    r"^(\d{4}-\d{2}-\d{2})([ T]00:00(:00(\.0+)?)?)?$"
)


def _transform_replace_spellings(
    field: dict, lo, lo_incl: bool, hi, hi_incl: bool,
) -> set[str]:
    """The derived-partition spellings a half-open SOURCE-column range
    covers EXACTLY (round 14, VERDICT r13 next-round #5 —
    ``replace_where`` over hidden partitions): the daily-reload
    predicate ``ts >= D AND ts < D+1`` on a ``days(ts)`` table names
    the D partition and nothing else.  Anything not provably
    whole-partition-aligned is REFUSED — replacing a partition a
    sub-partition predicate only half-covers would drop rows the
    caller did not ask to replace."""
    import datetime

    t = field["transform"]
    if lo is None or hi is None:
        raise ValueError(
            f"replace_where over {t} partitioning needs a bounded "
            f"``{field['source']} >= LO AND {field['source']} < HI`` "
            "range"
        )
    if not lo_incl or hi_incl:
        raise ValueError(
            f"replace_where over {t} partitioning must be a half-open "
            "range (>= lower bound, < upper bound) to align with "
            "whole partitions"
        )
    if t == "day":
        mlo = _MIDNIGHT_RE.match(lo) if isinstance(lo, str) else None
        mhi = _MIDNIGHT_RE.match(hi) if isinstance(hi, str) else None
        if not mlo or not mhi:
            raise ValueError(
                "replace_where day range bounds must be midnight-"
                f"aligned date strings; got {lo!r} / {hi!r}"
            )
        d0 = datetime.date.fromisoformat(mlo.group(1))
        d1 = datetime.date.fromisoformat(mhi.group(1))
        n = (d1 - d0).days
        if n <= 0 or n > 3660:
            raise ValueError(
                f"replace_where day range [{d0}, {d1}) is empty or "
                "spans more than ~10 years"
            )
        return {
            (d0 + datetime.timedelta(days=i)).isoformat()
            for i in range(n)
        }
    if t.startswith("truncate["):
        w = field["param"]
        if not all(isinstance(v, int) and not isinstance(v, bool)
                   for v in (lo, hi)):
            raise ValueError(
                "replace_where truncate range bounds must be integer "
                f"literals; got {lo!r} / {hi!r}"
            )
        if lo % w or hi % w or hi <= lo or (hi - lo) // w > 4096:
            raise ValueError(
                f"replace_where truncate[{w}] range [{lo}, {hi}) is "
                "not aligned to whole-width multiples (or is empty / "
                "oversized)"
            )
        return {str(x) for x in range(lo, hi, w)}
    raise ValueError(
        f"replace_where cannot name {t} partitions exactly (a bucket "
        "hash range never aligns with a value range); use the DML "
        "verbs for row-level replacement"
    )


def parse_replace_where(
    condition: str,
    part_cols: set[str],
    declared: dict[str, str],
    transforms: list[dict] | None = None,
) -> dict[str, set[str]]:
    """Validate a ``replace_where`` predicate for PARTITION-scoped
    overwrite (round 12): it must be a top-level conjunction of
    ``col = literal`` / ``col IN (literals)`` over PARTITION columns
    whose declared types spell values exactly (int-family / string) —
    the shape real writers accept for dynamic partition replacement.
    Anything looser is REFUSED: silently narrowing the predicate would
    leave rows alive that the caller asked to replace.  Returns
    ``{partition_col: {dir-name spellings}}``."""
    conjuncts = _top_level_conjuncts(condition)
    if conjuncts is None:
        raise ValueError(
            "replace_where must be a conjunction of partition-column "
            "equalities (top-level OR is not supported)"
        )
    _INT_TYPES = {"byte", "short", "integer", "long"}

    def spell(col: str, v) -> str:
        t = declared.get(col)
        if isinstance(v, bool):
            raise ValueError(
                "replace_where on boolean literals is unsupported"
            )
        if t == "string" and isinstance(v, str):
            return v
        if t in _INT_TYPES and isinstance(v, int):
            return str(v)
        raise ValueError(
            f"replace_where literal {v!r} cannot be matched exactly "
            f"against partition column {col!r} of type {t!r}"
        )

    by_source: dict[str, list[dict]] = {}
    for f in transforms or []:
        if f.get("transform") != "identity":
            by_source.setdefault(f["source"], []).append(f)
    ranges: dict[str, dict] = {}

    out: dict[str, set[str]] = {}
    for c in conjuncts:
        # HIDDEN-partition lever (round 14): a range conjunct on a
        # transform's SOURCE column — collected here, validated as
        # exactly partition-aligned below
        mc = _CMP_RE.match(c)
        if mc and mc.group(1) in by_source:
            col, op = mc.group(1), mc.group(2)
            ok, v = _parse_sql_literal(mc.group(3))
            if not ok:
                raise ValueError(
                    f"replace_where right-hand side {mc.group(3)!r} "
                    "is not a literal"
                )
            r = ranges.setdefault(
                col, {"lo": None, "lo_incl": True,
                      "hi": None, "hi_incl": False})
            if op in ("=", "=="):
                raise ValueError(
                    f"replace_where equality on {col!r} (a partition "
                    "transform's source column) cannot name a whole "
                    "partition; use a half-open range"
                )
            if op in (">", ">="):
                if r["lo"] is not None:
                    raise ValueError(
                        f"replace_where names two lower bounds on "
                        f"{col!r}"
                    )
                r["lo"], r["lo_incl"] = v, op == ">="
            else:
                if r["hi"] is not None:
                    raise ValueError(
                        f"replace_where names two upper bounds on "
                        f"{col!r}"
                    )
                r["hi"], r["hi_incl"] = v, op == "<="
            continue
        m = _IN_RE.match(c)
        if m:
            col, body = m.group(1), m.group(2)
            vals = []
            for tok in _split_in_list(body):
                ok, v = _parse_sql_literal(tok)
                if not ok:
                    raise ValueError(
                        f"replace_where IN list holds a non-literal: "
                        f"{tok.strip()!r}"
                    )
                vals.append(v)
        else:
            m = _CMP_RE.match(c)
            if not m or m.group(2) not in ("=", "=="):
                raise ValueError(
                    f"replace_where conjunct {c.strip()!r} is not a "
                    "partition-column equality or IN list"
                )
            col = m.group(1)
            ok, v = _parse_sql_literal(m.group(3))
            if not ok:
                raise ValueError(
                    f"replace_where right-hand side {m.group(3)!r} is "
                    "not a literal"
                )
            vals = [v]
        if col not in part_cols:
            raise ValueError(
                f"replace_where references {col!r}, which is not a "
                f"partition column ({sorted(part_cols)})"
            )
        spellings = {spell(col, v) for v in vals}
        out[col] = (out.get(col, spellings) & spellings
                    if col in out else spellings)
    for src, r in ranges.items():
        for f in by_source[src]:
            sp = _transform_replace_spellings(
                f, r["lo"], r["lo_incl"], r["hi"], r["hi_incl"])
            out[f["name"]] = (out[f["name"]] & sp
                              if f["name"] in out else sp)
    if not out:
        raise ValueError("replace_where carries no constraints")
    return out


def _matching_partition_files(
    live: dict, pv: dict[str, dict], wanted: dict[str, set[str]],
) -> list[str]:
    """Live files whose partition tuple satisfies EVERY constraint —
    the replacement set.  A file missing a constrained column cannot
    be proven in or out; replace_where refuses such layouts."""
    out = []
    for p in live:
        vals = pv.get(p, {})
        missing = [c for c in wanted if c not in vals]
        if missing:
            raise ValueError(
                f"file {p!r} has no partition value for {missing}; "
                "replace_where needs a uniformly partitioned table"
            )
        if all(vals[c] in allowed for c, allowed in wanted.items()):
            out.append(p)
    return sorted(out)


def write_delta(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    checkpoint_interval: int = 10,
    max_retries: int = 10,
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    bloom_filter_cols: list[str] | None = None,
    replace_where: str | None = None,
) -> dict:
    """Commit ``df`` to the table.  Returns ``{version, n_files,
    n_records, n_removed}``.  Retries version claims on conflict
    (another writer committed first) up to ``max_retries`` times —
    the data files are written ONCE; only the log claim retries.
    ``partition_by`` writes Hive-layout partition dirs and stamps
    ``add.partitionValues`` + ``metaData.partitionColumns`` (Delta's
    partitioned-table shape; the partition columns live on the add
    actions, not in the data files).

    ``txn=(appId, version)`` makes the commit IDEMPOTENT (PROTOCOL.md
    "Transaction Identifiers"): if the snapshot already records this
    appId at >= version, the write is a no-op returning
    ``{"version": None, "skipped": True}`` — exactly-once semantics
    for streaming foreachBatch writers, whose batches redeliver on
    restart.  The check runs BEFORE staging and again inside every
    claim retry, so a concurrent duplicate writer cannot double-apply
    a batch; a skip discovered after staging unlinks the orphaned
    data files (they were never referenced by any commit).

    SCHEMA DISCIPLINE (round 11): an append whose DataFrame schema
    differs from the table's current ``metaData.schemaString`` fails
    loudly unless ``merge_schema=True`` — silently overwriting the
    recorded schema would leave older files unreadable under the new
    contract (Delta's own writers enforce the same check; overwrite
    mode replaces the data, so it may always change the schema)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported write mode {mode!r}")
    if replace_where is not None and mode != "overwrite":
        raise ValueError("replace_where requires mode='overwrite'")

    def _txn_done(snap: dict) -> bool:
        return (
            txn is not None
            and snap.get("app_versions", {}).get(txn[0], -(1 << 62))
            >= txn[1]
        )

    pre = snapshot(table_dir)
    if _txn_done(pre):
        return {"version": None, "skipped": True, "n_files": 0,
                "n_records": 0, "n_removed": 0}
    # GENERATED-COLUMN partitioning (round 13): partition_by entries
    # may be transforms — days(ts) / truncate(W, col) — realized as
    # generated columns whose expression lands in the schema metadata.
    # An append naming no layout INHERITS the table's generated
    # columns (partitioning stays hidden from the writer).
    gen_specs: list[dict] = []
    if partition_by and any("(" in str(p) for p in partition_by):
        from .iceberg_sink import parse_partition_transforms

        pspec = parse_partition_transforms(list(partition_by))
        gen_specs = [f for f in pspec if f["transform"] != "identity"]
        overlap = [f["name"] for f in gen_specs
                   if f["name"] in df.columns]
        if overlap:
            raise ValueError(
                f"generated partition columns {overlap} already exist "
                "in the DataFrame; drop them or rename the transform "
                "sources"
            )
        partition_by = [f["name"] for f in pspec]
    elif mode == "append" or replace_where is not None:
        # replace_where inherits the table's generated partitioning
        # too (round 14): the daily-reload caller shouldn't
        # re-declare it
        inherited = _generated_transforms(pre)
        if inherited and all(f["name"] not in df.columns
                             for f in inherited):
            gen_specs = inherited
            if not partition_by:
                partition_by = pre.get("partition_columns") or None
    if gen_specs:
        df = _apply_generated_columns(df, gen_specs)
    schema_string = (_patched_schema_string(df, gen_specs)
                     if gen_specs else df.schema.json())
    # COLUMN MAPPING: carry the stable physicalName/id metadata into
    # the outgoing schema (fresh ids for new fields) and stage under
    # physical names
    cm_cfg: dict | None = None
    cm_l2p: dict[str, str] | None = None
    if pre.get("column_mapping"):
        schema_string, cm_cfg = _carry_mapping_schema(
            schema_string, pre)
        cm = _column_mapping(schema_string, {_CM_MODE_PROP: "name"})
        cm_l2p = cm["l2p"] if cm else None
    if (mode == "append" and not merge_schema
            and pre.get("schema_json")):
        if not _schema_accepts(pre["schema_json"], schema_string):
            raise ValueError(
                "append schema differs from the table schema; pass "
                "merge_schema=True to evolve it (Delta schema "
                "enforcement)"
            )
        # the recorded schema stays the contract — an accepted append
        # whose fields are merely STRICTER (non-nullable literals from
        # an INSERT ... VALUES) must not tighten it
        schema_string = pre["schema_json"]
    if mode == "append" and pre.get("live"):
        # an append must land in the table's existing partition layout
        # — a mismatched layout would mix partitioned and flat files
        # and clobber metaData.partitionColumns
        table_parts = sorted({
            c for v in pre.get("partition_values", {}).values() for c in v
        })
        if sorted(partition_by or []) != table_parts:
            raise ValueError(
                f"append partition_by {sorted(partition_by or [])} "
                f"disagrees with the table's partition columns "
                f"{table_parts}"
            )
    wanted_replace: dict[str, set[str]] | None = None
    if replace_where is not None:
        # PARTITION-SCOPED overwrite (round 12): only files in the
        # named partitions are replaced — the daily-reload pattern.
        # The predicate must be exactly partition-expressible and the
        # layout must agree; the staged data is VALIDATED to land
        # only inside the named partitions.
        if pre.get("live"):
            table_parts = sorted({
                c for v in pre.get("partition_values", {}).values()
                for c in v
            })
            if sorted(partition_by or []) != table_parts:
                raise ValueError(
                    f"replace_where partition_by "
                    f"{sorted(partition_by or [])} disagrees with the "
                    f"table's partition columns {table_parts}"
                )
        if pre.get("schema_json") and not merge_schema:
            if not _schema_accepts(pre["schema_json"], schema_string):
                raise ValueError(
                    "replace_where keeps the other partitions' files, "
                    "so the schema must match the table's "
                    "(merge_schema=True to evolve it)"
                )
            schema_string = pre["schema_json"]
        declared = {f.name: f.dataType.typeName()
                    for f in df.schema.fields}
        gen_names = {f["name"] for f in gen_specs}
        wanted_replace = parse_replace_where(
            replace_where,
            set(partition_by or []) - gen_names,
            declared,
            transforms=gen_specs,
        )
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    token = uuid.uuid4().hex[:12]
    adds = _stage_data_files(df, table_dir, token,
                             partition_by=partition_by,
                             bloom_filter_cols=bloom_filter_cols,
                             l2p=cm_l2p)
    if wanted_replace is not None:
        stray = [
            a["path"] for a in adds
            if not all(
                (a["partitionValues"] or {}).get(
                    (cm_l2p or {}).get(c, c)) in allowed
                for c, allowed in wanted_replace.items()
            )
        ]
        if stray:
            for a in adds:
                try:
                    os.unlink(os.path.join(table_dir, a["path"]))
                except OSError:
                    pass
            raise ValueError(
                f"replace_where data lands outside the named "
                f"partitions ({stray[:3]}); the predicate must cover "
                "every written row"
            )
    if not adds and mode == "append":
        # an empty batch appends nothing — no version burned (a
        # streaming writer's empty micro-batch path; a redelivery is
        # equally empty, so skipping the txn watermark stays safe)
        return {"version": None, "skipped": True, "n_files": 0,
                "n_records": 0, "n_removed": 0}

    # schema_string computed above (patched with generation
    # expressions when partition transforms are in play)
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if _txn_done(snap):  # a duplicate writer beat us to the claim
            for a in adds:
                try:
                    os.unlink(os.path.join(table_dir, a["path"]))
                except OSError:
                    pass
            return {"version": None, "skipped": True, "n_files": 0,
                    "n_records": 0, "n_removed": 0}
        version = snap["version"] + 1
        acts: list[dict] = []
        if version == 0:
            acts.append({"protocol": {"minReaderVersion": 1,
                                      "minWriterVersion": 2}})
        acts.append({"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": (
                list(partition_by) if partition_by
                else (snap.get("partition_columns") or [])
            ),
            # re-emitting metaData must not WIPE table properties a
            # prior commit set (delta.enableChangeDataFeed — round 13);
            # the mapping patch advances maxColumnId for new fields
            "configuration": {
                **(snap.get("metadata_configuration") or {}),
                **(cm_cfg or {}),
            },
        }})
        removed = []
        if mode == "overwrite":
            if wanted_replace is not None:
                removed = _matching_partition_files(
                    snap.get("live", {}),
                    snap.get("partition_values", {}), wanted_replace,
                )
            else:
                removed = sorted(snap["live"])
            acts.extend(
                {"remove": {"path": p, "dataChange": True}}
                for p in removed
            )
        acts.extend(
            {"add": {**a, "dataChange": True}}
            for a in adds
        )
        if txn is not None:
            acts.append({"txn": {"appId": txn[0], "version": txn[1]}})
        acts.append({"commitInfo": {
            "operation": "WRITE", "mode": mode,
        }})
        if not _claim_version(table_dir, version, _stamped_commit(acts),
                              token):
            continue  # lost the race: re-read the log, retry
        _maybe_checkpoint(table_dir, version, checkpoint_interval)
        return {"version": version, "n_files": len(adds),
                "n_records": sum(a["numRecords"] for a in adds),
                "n_removed": len(removed)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def cleanup_delta_log(table_dir: str, retain_versions: int) -> dict:
    """LOG RETENTION — physically delete JSON commits and checkpoint
    parquets the checkpoint fast path has made redundant (round 12,
    the verb `snapshot()`'s checkpoint seeding enables; real Delta's
    metadata cleanup does the same on a time horizon).  Keeps every
    commit inside the retention window PLUS the newest checkpoint at
    or below the horizon and everything after it, so `snapshot()`,
    `snapshot_as_of(v ≥ anchor)`, CDF and RESTORE inside the window
    keep working; history below the anchor is forfeited — which is
    the point of retention.  A table with no checkpoint at or below
    the horizon cleans nothing (the log prefix is still load-bearing).

    Returns ``{anchor, n_json_deleted, n_checkpoints_deleted,
    bytes_reclaimed}``."""
    if retain_versions < 0:
        raise ValueError("retain_versions must be >= 0")
    cur = snapshot(table_dir)
    if cur["version"] < 0:
        return {"anchor": None, "n_json_deleted": 0,
                "n_checkpoints_deleted": 0, "bytes_reclaimed": 0}
    horizon = cur["version"] - retain_versions
    anchors = [c for c in _checkpoint_versions(table_dir) if c <= horizon]
    if not anchors:
        return {"anchor": None, "n_json_deleted": 0,
                "n_checkpoints_deleted": 0, "bytes_reclaimed": 0}
    anchor = anchors[-1]
    ld = _log_dir(table_dir)
    reclaimed = 0
    n_json = 0
    for v in _json_versions(table_dir):
        if v > anchor:
            break
        full = _commit_path(table_dir, v)
        try:
            reclaimed += os.path.getsize(full)
            os.unlink(full)
            n_json += 1
        except OSError:
            pass  # already gone: cleanup is idempotent
    n_ck = 0
    for c in _checkpoint_versions(table_dir):
        if c >= anchor:
            continue  # the anchor checkpoint is now load-bearing
        full = os.path.join(ld, f"{c:020d}.checkpoint.parquet")
        try:
            reclaimed += os.path.getsize(full)
            os.unlink(full)
            n_ck += 1
        except OSError:
            pass
    return {"anchor": anchor, "n_json_deleted": n_json,
            "n_checkpoints_deleted": n_ck,
            "bytes_reclaimed": reclaimed}


def remove_orphan_files_delta(
    table_dir: str,
    grace_seconds: int = 86400,
) -> dict:
    """ORPHAN FILE CLEANUP for the Delta layout (round 12): delete
    files the available log (checkpoint seeds + JSON tail) never
    names — data files, DV sidecars, change-data files — older than
    ``grace_seconds``.  CONSERVATIVE by construction: every path named
    by ANY action of any available commit (adds, removes, cdc) plus
    every DV sidecar any replayable state references is kept, so
    tombstones awaiting VACUUM and CDF files inside their window
    survive; only stage-and-die leftovers go.

    Returns ``{n_deleted, bytes_reclaimed, n_referenced}``."""
    import time
    import uuid as _uuid

    from ..operators.deltalog import z85_decode

    cur = snapshot(table_dir)
    if cur["version"] < 0:
        return {"n_deleted": 0, "bytes_reclaimed": 0, "n_referenced": 0}
    referenced: set[str] = set()

    def _note_sidecar(desc: dict) -> None:
        st = desc.get("storageType")
        if st == "p":
            referenced.add(desc.get("pathOrInlineDv", ""))
        elif st == "u":
            enc = desc.get("pathOrInlineDv", "")
            try:
                prefix, uid85 = enc[:-20], enc[-20:]
                uid = _uuid.UUID(bytes=z85_decode(uid85))
                referenced.add(
                    (f"{prefix}/" if prefix else "")
                    + f"deletion_vector_{uid}.bin"
                )
            except ValueError:
                pass

    # every path any AVAILABLE commit names, regardless of liveness
    for v in _json_versions(table_dir):
        for ln in open(_commit_path(table_dir, v),
                       encoding="utf-8").read().splitlines():
            if not ln.strip():
                continue
            obj = json.loads(ln)
            for kind in ("add", "remove", "cdc"):
                body = obj.get(kind)
                if isinstance(body, dict):
                    pth = body.get("path")
                    if isinstance(pth, str) and pth:
                        referenced.add(pth)
                    dv = body.get("deletionVector")
                    if isinstance(dv, dict):
                        _note_sidecar(dv)
    # checkpoint seeds (cleaned prefixes survive only through these)
    for ck in _checkpoint_versions(table_dir):
        st = replay_delta_log([], **_seed_from_checkpoint(table_dir, ck))
        referenced.update(st["live"])
        referenced.update(st["tombstones"])
        for d in st.get("deletion_vectors", {}).values():
            _note_sidecar(d)
    horizon = time.time() - grace_seconds
    n_del = 0
    reclaimed = 0
    for root, dirs, files in os.walk(table_dir):
        if os.path.basename(root) == "_delta_log":
            dirs[:] = []
            continue  # the log itself is the protocol, never orphaned
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table_dir).replace(os.sep, "/")
            if rel in referenced or rel.startswith("_delta_log/"):
                continue
            try:
                if os.path.getmtime(full) >= horizon:
                    continue
                reclaimed += os.path.getsize(full)
                os.unlink(full)
                n_del += 1
            except OSError:
                pass
    return {"n_deleted": n_del, "bytes_reclaimed": reclaimed,
            "n_referenced": len(referenced)}


def _with_zorder_value(df: DataFrame, cols: list[str]) -> DataFrame:
    """Attach ``__zval``: the Morton interleave of the (broadcast
    min/max-quantized) dimensions for 2 columns, or the column itself
    for 1 — the clustering key OPTIMIZE ZORDER BY sorts the rewrite
    on (operators/zorder.py holds the oracle-checked twin)."""
    from pyspark.sql import functions as F

    from ..operators.zorder import GRID_BITS, _interleave

    if len(cols) == 1:
        return df.withColumn("__zval", F.col(cols[0]).cast("long"))
    if len(cols) != 2:
        raise ValueError("zorder_by supports 1 or 2 columns")
    a, b = cols
    grid_max = (1 << GRID_BITS) - 1
    stats = df.agg(
        F.min(F.col(a).cast("long")).alias("__alo"),
        F.max(F.col(a).cast("long")).alias("__ahi"),
        F.min(F.col(b).cast("long")).alias("__blo"),
        F.max(F.col(b).cast("long")).alias("__bhi"),
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn("__qa", F.expr(
            f"(({a} - __alo) * {grid_max}L)"
            f" div greatest(__ahi - __alo, 1L)"
        ))
        .withColumn("__qb", F.expr(
            f"(({b} - __blo) * {grid_max}L)"
            f" div greatest(__bhi - __blo, 1L)"
        ))
        .withColumn("__zval",
                    _interleave(F.col("__qa"), F.col("__qb"), GRID_BITS))
        .drop("__alo", "__ahi", "__blo", "__bhi", "__qa", "__qb")
    )


def optimize_delta(
    spark,
    table_dir: str,
    small_file_bytes: int = 32 * 1024 * 1024,
    target_partitions: int = 1,
    checkpoint_interval: int = 10,
    max_retries: int = 10,
    zorder_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE: bin-pack live files smaller than ``small_file_bytes``
    into ``target_partitions`` rewritten files, committed as adds +
    removes with ``dataChange: false`` — the table's ROWS are
    untouched, only its file geometry changes (delta-io OPTIMIZE
    semantics).  Small files are the scale killer a streaming or
    many-writer table accretes (every task opens are O(files), not
    O(bytes)); compaction restores scan efficiency without a reader
    ever seeing a row-level change.  Rewritten files get fresh
    footer-derived stats, so data skipping keeps working.

    DELETION VECTORS ARE MATERIALIZED during the rewrite (ADVICE r10
    high): a compacted source file's DV-tombstoned rows are dropped by
    a position anti-join (dead positions expanded on executors from
    the descriptors), so the re-added files physically contain only
    live rows and carry no DV — the LOGICAL row set is preserved,
    which is what ``dataChange: false`` promises readers.  A naive
    rewrite that re-read the physical rows would resurrect every row
    DELETE/MERGE had tombstoned (delta-io's OPTIMIZE materializes DVs
    the same way).

    PARTITIONED tables compact PER PARTITION (round 11, replacing the
    loud guard): only partitions holding ≥2 small files participate,
    partition columns re-attach by broadcast join, one shuffle routes
    each partition's rows to one task, and the staged Hive layout
    re-stamps ``partitionValues`` — each partition compacts to one
    file (``target_partitions`` applies to unpartitioned tables).
    Rows never migrate across partition dirs: the partition tuple is
    carried by the row itself through the rewrite.

    Conflict discipline: the rewrite happens ONCE; the commit claim
    retries, but if a concurrent writer removed, resized, or
    RE-TOMBSTONED one of the source files first the compaction aborts
    (its rewrite would resurrect the concurrent writer's dead rows) —
    the same logical-conflict rule delta-io applies.

    Returns ``{version, n_compacted, n_files, n_records,
    n_dv_rows_dropped}``; no-op (too few small files) returns
    ``{"version": None, "n_compacted": 0, ...}``."""
    snap = snapshot(table_dir)
    noop = {"version": None, "n_compacted": 0, "n_files": 0,
            "n_records": 0, "n_dv_rows_dropped": 0}
    small = sorted(
        p for p, (sz, _) in snap["live"].items() if sz < small_file_bytes
    )
    pv = snap.get("partition_values", {})
    part_cols = sorted({c for p in snap["live"] for c in pv.get(p, {})})
    if part_cols:
        by_part: dict[tuple, list[str]] = {}
        for p in small:
            key = tuple(sorted((pv.get(p) or {}).items()))
            by_part.setdefault(key, []).append(p)
        small = sorted(
            p for ps in by_part.values() if len(ps) >= 2 for p in ps
        )
    elif len(small) <= target_partitions and not zorder_by:
        # without a clustering request, <= target files is already
        # compact; ZORDER still has work to do (the point is layout,
        # not file count)
        small = []
    if not small:
        return noop
    dvs = snap.get("deletion_vectors", {})
    dv_small = {_abs_uri(table_dir, p): dvs[p] for p in small if p in dvs}
    n_dv_rows = sum(d["cardinality"] for d in dv_small.values())
    if dv_small or part_cols:
        df = _scan_with_positions(spark, table_dir, small,
                                  snap.get("schema_json"), part_cols)
        dead = _dead_positions_df(spark, table_dir, dv_small)
        if dead is not None:
            df = df.join(dead, ["__fp", "__ri"], "left_anti")
        if part_cols:
            df, _ = _attach_partition_columns(
                spark, df, table_dir, small, pv,
            )
        df = df.drop("__fp", "__ri")
    else:
        # still read with the DECLARED schema: compacting files from
        # both sides of a schema evolution must not drop the added
        # column from the older generation's rows
        df = _scan_with_positions(
            spark, table_dir, small, snap.get("schema_json"), (),
        ).drop("__fp", "__ri")
    if zorder_by:
        # OPTIMIZE ZORDER BY: the rewrite is range-partitioned and
        # sorted by the Morton code, so every output file covers a
        # small bounding box in the clustered dimensions and the
        # footer-derived add.stats prune on EITHER one — compaction
        # that IMPROVES skipping instead of destroying it
        df = _with_zorder_value(df, list(zorder_by))
        if part_cols:
            df = (
                df.repartition(*part_cols)
                .sortWithinPartitions("__zval")
            )
        else:
            df = (
                df.repartitionByRange(target_partitions, "__zval")
                .sortWithinPartitions("__zval")
            )
        df = df.drop("__zval")
    elif part_cols:
        df = df.repartition(*part_cols)
    else:
        df = df.repartition(target_partitions)
    token = uuid.uuid4().hex[:12]
    adds = _stage_data_files(df, table_dir, token,
                             partition_by=part_cols or None,
                             l2p=_l2p_of(snap))
    for _ in range(max_retries):
        cur = snapshot(table_dir)
        conflicts = _conflicting_paths(snap, cur, small)
        if conflicts:
            raise ValueError(
                "optimize conflict: source files changed concurrently "
                f"({conflicts[:3]})"
            )
        version = cur["version"] + 1
        acts = (
            [{"remove": {"path": p, "dataChange": False}} for p in small]
            + [{"add": {**a, "dataChange": False}}
               for a in adds]
            + [{"commitInfo": {"operation": "OPTIMIZE",
                               "numRemovedFiles": len(small),
                               "numAddedFiles": len(adds),
                               "numDeletionVectorsRemoved":
                                   len(dv_small)}}]
        )
        if _claim_version(table_dir, version, _stamped_commit(acts), token):
            _maybe_checkpoint(table_dir, version, checkpoint_interval)
            return {"version": version, "n_compacted": len(small),
                    "n_files": len(adds),
                    "n_records": sum(a["numRecords"] for a in adds),
                    "n_dv_rows_dropped": n_dv_rows}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def delete_where_delta(
    spark,
    table_dir: str,
    condition: str,
    inline_threshold: int = 512,
    checkpoint_interval: int = 10,
    max_retries: int = 10,
    change_data: bool = True,
) -> dict:
    """DELETE WHERE — without rewriting a single data file.

    Rows matching the Spark SQL ``condition`` are tombstoned by
    DELETION VECTORS (PROTOCOL.md "Deletion Vectors"): one distributed
    scan finds matching row positions via the parquet reader's
    ``_metadata.row_index``, each file's roaring DV (prior DV unioned
    in) is serialized ON EXECUTORS (`_build_dv_updates` — the driver
    collects O(touched files) opaque bitmaps, never row positions),
    and each affected file RE-ADDS with the new descriptor, stats and
    partitionValues re-stamped.  Small DVs inline into the log as z85
    (storageType ``i``); larger ones share one ``.bin`` sidecar per
    commit (storageType ``p``, offset per file, CRC-32 verified on
    read).  At 100 TB this is the difference between a DELETE that
    touches gigabytes of bitmaps and one that rewrites terabytes of
    parquet.

    ``change_data=True`` additionally writes the newly-dead rows as
    CHANGE DATA FILES (``_change_data/``, ``_change_type='delete'``,
    cdc actions in the same commit — PROTOCOL.md "Change Data Files"),
    so incremental consumers read the delta between versions instead
    of diffing snapshots (`read_changes`).

    Returns ``{version, n_files_touched, n_rows_deleted}``
    (``version None`` when nothing matched)."""
    from pyspark.sql import functions as F

    snap = snapshot(table_dir)
    if not snap["live"]:
        return {"version": None, "n_files_touched": 0,
                "n_rows_deleted": 0}
    # compose the pruning levers into the scan plan (VERDICT r11 #3):
    # files whose partition tuple / stats / bloom filters prove no
    # match are neither scanned nor re-added
    paths, _prune_counts = _prune_dml_paths(
        table_dir, snap, condition,
        transforms=_generated_transforms(snap),
    )
    if not paths:
        return {"version": None, "n_files_touched": 0,
                "n_rows_deleted": 0}
    abs_to_rel = {_abs_uri(table_dir, p): p for p in paths}
    pv = snap.get("partition_values", {})
    part_cols = sorted({c for p in paths for c in pv.get(p, {})})
    df, _part_cols = _attach_partition_columns(
        spark,
        _scan_with_positions(spark, table_dir, paths,
                             snap.get("schema_json"), part_cols),
        table_dir, paths, pv, snap.get("schema_json"),
    )
    cond_rows = df.filter(condition)
    if change_data:
        # the matched rows feed TWO actions (the DV build's collect and
        # the change-data write) — materialize the scan+filter once and
        # let both read the checkpointed blocks instead of re-scanning
        # the pruned file set per action (guide §2: remove redundant
        # passes; at 100 TB the matched subset is the small side)
        cond_rows = cond_rows.localCheckpoint(
            eager=True, storageLevel=CHECKPOINT_LEVEL
        )
    old_dvs = snap.get("deletion_vectors", {})
    fstats = snap.get("file_stats", {})
    token = uuid.uuid4().hex[:12]
    updates = _build_dv_updates(
        spark, cond_rows.select("__fp", "__ri"), table_dir,
        abs_to_rel, old_dvs,
    )
    if not updates:
        return {"version": None, "n_files_touched": 0,
                "n_rows_deleted": 0}
    n_deleted = sum(fresh for _, _, fresh in updates.values())
    descs = _dv_descriptors(updates, table_dir, inline_threshold, token)

    cdc_acts: list[dict] = []
    if change_data:
        # the newly-dead rows: matched minus already-tombstoned
        dead = _dead_positions_df(
            spark, table_dir,
            {_abs_uri(table_dir, p): old_dvs[p]
             for p in old_dvs if p in snap["live"]},
        )
        fresh_rows = (
            cond_rows.join(dead, ["__fp", "__ri"], "left_anti")
            if dead is not None else cond_rows
        )
        cdc_acts = _stage_cdc_files(
            fresh_rows.drop("__fp", "__ri")
            .withColumn("_change_type", F.lit("delete")),
            table_dir, token, "del", l2p=_l2p_of(snap),
        )

    for _ in range(max_retries):
        cur = snapshot(table_dir)
        conflicts = _conflicting_paths(snap, cur, sorted(descs))
        if conflicts:
            raise ValueError(
                "delete conflict: files changed concurrently "
                f"({conflicts[:3]})"
            )
        version = cur["version"] + 1
        acts: list[dict] = []
        for rel in sorted(descs):
            size, rows = cur["live"][rel]
            acts.append({"remove": {"path": rel, "dataChange": True}})
            add = {"path": rel, "size": size, "numRecords": rows,
                   "partitionValues": pv.get(rel, {}),
                   "deletionVector": descs[rel], "dataChange": True}
            if rel in fstats:
                add["stats"] = json.dumps(
                    fstats[rel], sort_keys=True, separators=(",", ":")
                )
            acts.append({"add": add})
        acts.extend(cdc_acts)
        acts.append({"commitInfo": {"operation": "DELETE",
                                    "predicate": condition}})
        acts = _upgrade_actions(table_dir, cur, acts)
        if _claim_version(table_dir, version, _stamped_commit(acts), token):
            _maybe_checkpoint(table_dir, version, checkpoint_interval)
            return {"version": version,
                    "n_files_touched": len(descs),
                    "n_rows_deleted": n_deleted}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def merge_delta(
    spark,
    source: DataFrame,
    table_dir: str,
    key_cols: list[str],
    inline_threshold: int = 512,
    checkpoint_interval: int = 10,
    max_retries: int = 10,
    partition_by: list[str] | None = None,
    change_data: bool = True,
    matched_delete: str | None = None,
    matched_update: str | None = None,
    not_matched_insert: str | None = None,
    not_matched_by_source_delete: str | None = None,
    matched_set: dict[str, str] | None = None,
    matched_residual: str | None = None,
) -> dict:
    """MERGE (upsert): every source row lands in the table; LIVE
    target rows sharing a key are superseded — in ONE atomic commit,
    without rewriting any existing data file.

    CONDITIONAL CLAUSES (round 13, VERDICT r12 What's missing #2) —
    the SQL MERGE clause forms, so a CDC stream with terminal deletes
    applies through ONE call instead of post-processing:

    - ``matched_delete``: ``WHEN MATCHED AND <cond> THEN DELETE`` —
      matched target rows whose source row passes ``cond`` (a Spark
      SQL boolean over the SOURCE row's columns) are tombstoned and
      the source row is NOT re-staged.  Evaluated FIRST, like Delta's
      own clause ordering.
    - ``matched_update``: ``WHEN MATCHED AND <cond> THEN UPDATE`` —
      gates which remaining matched source rows supersede their
      target rows (None = unconditional, today's upsert).
    - ``not_matched_insert``: ``WHEN NOT MATCHED AND <cond> THEN
      INSERT`` — gates which unmatched source rows insert (None =
      all of them; a CDC feed passes ``"_op <> 'delete'"`` so a
      delete event for an absent key is a no-op).
    - ``not_matched_by_source_delete``: ``WHEN NOT MATCHED BY SOURCE
      AND <cond> THEN DELETE`` — live TARGET rows whose key has no
      source row and which pass ``cond`` (a boolean over the TARGET
      row's columns; ``"true"`` for unconditional) are tombstoned.
      This clause inherently scans the whole table (the rows to
      delete are defined by key ABSENCE), so key-range pruning is
      disabled when it is set — same cost shape as Delta's own.

    When any clause is set, staged rows are PROJECTED to the table's
    declared schema (dropping CDC bookkeeping columns like ``_op``
    that the conditions reference), mirroring SQL MERGE's
    ``INSERT *`` / ``UPDATE SET *`` name alignment.

    ``matched_residual`` (round 14, VERDICT r13 next-round #6): the
    MERGE ON clause's NON-EQUI conjuncts — a Spark SQL boolean over
    the matched PAIR (target alias ``t``, source alias ``s``, e.g.
    ``"s.ts > t.ts"``) — applied as the standard decomposition: the
    equi conjuncts stay the join key, and only pairs PASSING the
    residual take the MATCHED actions (update/delete); failing pairs
    are left untouched.  Matched-ness is judged on the WHOLE ON
    predicate, exactly like Spark/Delta (ADVICE r14): a source row
    with NO passing pair is NOT MATCHED and takes the INSERT clause
    (so ``INSERT *`` re-inserts a stale CDC row under its key — gate
    with ``not_matched_insert`` if that is not wanted), and a target
    row with no passing pair counts as NOT MATCHED BY SOURCE.
    Evaluating a pair requires the target row, so the residual
    implies the same key-match scan the upsert already pays.

    ``matched_set`` (round 13): per-column ``UPDATE SET`` assignments
    evaluated over the matched PAIR — the target row as alias ``t``,
    the source row as alias ``s`` (``{"qty": "t.qty + s.qty"}``).
    Unassigned columns keep the TARGET value (SQL UPDATE semantics);
    merge keys cannot be assigned; with assignments the source must
    resolve each key to ONE update row.  Requires a target scan per
    pair, so it is Delta-only (the Iceberg merge's O(source) property
    forbids reading the target).

    The classic upsert decomposes as (a) a distributed key-match scan
    over the target's live rows (existing DVs applied — a dead row is
    not a match) with the source keys broadcast, (b) deletion vectors
    over the matched positions, SERIALIZED ON EXECUTORS
    (`_build_dv_updates` — the driver collects O(touched files)
    bitmaps, never positions), and (c) the source staged as new data
    files.  All three land in a single claimed commit: remove +
    re-add-with-DV for each touched file, adds for the new files,
    ``commitInfo.operation = "MERGE"`` — a reader replays either the
    whole upsert or none of it.

    PARTITIONED tables are first-class (VERDICT r10 missing #2): the
    source stages into the table's Hive partition layout, partition
    columns re-attach to the target scan by broadcast join, and when a
    merge key IS a partition column the key-match scan is PARTITION
    PRUNED first — a CDC batch touching yesterday only ever opens
    yesterday's files.  ``partition_by`` is only consulted when the
    table is empty (first commit defines the layout); a non-empty
    table's layout comes from its own add actions and must agree.

    ``change_data=True`` writes CHANGE DATA FILES in the same commit:
    matched live target rows as ``update_preimage``, their source rows
    as ``update_postimage``, unmatched source rows as ``insert``
    (PROTOCOL.md "Change Data Files"; `read_changes` consumes them).

    Returns ``{version, n_files_touched, n_rows_updated,
    n_files_added, n_records_added}``."""
    from pyspark.sql import functions as F

    from ..operators.deltalog import prune_by_partition, prune_live_files

    if not key_cols:
        raise ValueError("merge needs at least one key column")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    snap = snapshot(table_dir)
    pv = snap.get("partition_values", {})
    fstats = snap.get("file_stats", {})
    old_dvs = snap.get("deletion_vectors", {})
    part_cols = sorted({c for p in snap["live"] for c in pv.get(p, {})})
    if snap["live"]:
        if partition_by is not None and sorted(partition_by) != part_cols:
            raise ValueError(
                f"merge partition_by {sorted(partition_by)} disagrees "
                f"with the table's partition columns {part_cols}"
            )
    else:
        part_cols = sorted(partition_by or [])
    # generated-column partitioning: the source is the post-merge row
    # set, so its generated columns derive here (round 13)
    gen_specs = _generated_transforms(snap)
    if gen_specs and all(f["name"] not in source.columns
                         for f in gen_specs):
        source = _apply_generated_columns(source, gen_specs)
    clauses = any(c is not None for c in (
        matched_delete, matched_update, not_matched_insert,
        not_matched_by_source_delete, matched_set, matched_residual,
    ))
    if matched_set is not None:
        bad_keys = [c for c in matched_set if c in key_cols]
        if bad_keys:
            raise ValueError(
                f"matched_set cannot assign merge keys {bad_keys}"
            )
        gen_names = {f["name"] for f in gen_specs}
        bad_gen = [c for c in matched_set if c in gen_names]
        if bad_gen:
            raise ValueError(
                f"matched_set cannot assign generated columns "
                f"{bad_gen}; assign their source columns instead"
            )
    del_src = upd_src = ins_src = None
    declared_cols: list[str] | None = None
    if clauses:
        # route the source through the clause conditions (each a
        # boolean over the SOURCE row; filter() drops null conditions
        # on both sides, matching SQL's no-clause-passed = untouched)
        del_src = (source.filter(matched_delete)
                   if matched_delete is not None else None)
        upd_src = (
            source.filter(f"NOT coalesce(({matched_delete}), false)")
            if matched_delete is not None else source
        )
        if matched_update is not None:
            upd_src = upd_src.filter(matched_update)
        ins_src = (source.filter(not_matched_insert)
                   if not_matched_insert is not None else source)
        if snap.get("schema_json"):
            declared_cols = [
                f["name"]
                for f in json.loads(snap["schema_json"])["fields"]
            ]
        if del_src is not None:
            dup = (del_src.select(*key_cols)
                   .join(upd_src.select(*key_cols), key_cols, "inner")
                   .limit(1).count())
            if dup:
                raise ValueError(
                    "merge clause conflict: a key is routed to BOTH "
                    "matched_delete and the update clause — the "
                    "source must resolve each key to one action "
                    "(compact the CDC batch first)"
                )
    token = uuid.uuid4().hex[:12]
    adds: list[dict] = []
    src_obs = None
    if not clauses:
        staged_src = source
        if snap["live"]:
            # the pruning block below needs the source keys' min/max
            # (key-range pruning) and, for partition-key columns, the
            # distinct touched values — previously 1-2 separate
            # aggregate jobs over the source.  Both ride the staging
            # write as observed metrics instead (guide §1/§2: one job,
            # not three); collect_set is bounded by O(touched
            # partitions), the same bound the old distinct collect had.
            from pyspark.sql import Observation, functions as F

            src_obs = Observation()
            aggs = []
            for c in key_cols:
                aggs.append(F.min(c).alias(f"__lo_{c}"))
                aggs.append(F.max(c).alias(f"__hi_{c}"))
                if c in part_cols:
                    aggs.append(F.collect_set(c).alias(f"__pv_{c}"))
            staged_src = source.observe(src_obs, *aggs)
        adds = _stage_data_files(staged_src, table_dir, token,
                                 partition_by=part_cols or None,
                                 l2p=_l2p_of(snap))

    descs: dict[str, dict] = {}
    n_updated = 0
    n_deleted = 0
    cdc_acts: list[dict] = []
    paths: list[str] = []
    if snap["live"] and not_matched_by_source_delete is not None:
        # key-ABSENCE deletes are defined over the whole table: every
        # live file may hold rows whose key left the source, so the
        # pruning levers must not narrow this scan
        paths = sorted(snap["live"])
    elif snap["live"]:
        # partition pruning first: merge keys that ARE partition
        # columns constrain which files can hold a match at all —
        # the source's distinct values per such column are O(touched
        # partitions).  In the upsert path they arrive as observed
        # metrics of the staging write (src_obs above); the clause
        # path (which stages later) still pays the aggregate jobs.
        if src_obs is not None:
            metrics = src_obs.get
            wanted = {
                c: {_spark_partition_str(v)
                    for v in (metrics[f"__pv_{c}"] or [])}
                for c in key_cols if c in part_cols
            }
            bounds = metrics
        else:
            wanted = {}
            for c in key_cols:
                if c in part_cols:
                    wanted[c] = {
                        _spark_partition_str(r[c]) for r in
                        source.select(c).distinct().collect()
                        if r[c] is not None
                    }
        kept = (prune_by_partition(snap, wanted)["kept"] if wanted
                else dict(snap["live"]))
        # key-RANGE pruning (round 12): the source keys' min/max bound
        # which target files can hold a match — ONE tiny agg over the
        # source (observed on the staging write in the upsert path),
        # then the same stats pruner the read path uses (files
        # without bounds, or with incomparable types, are kept).  A
        # CDC batch of recent keys on a key-clustered 100 TB table
        # opens the recent files, not all of them.
        if src_obs is None:
            aggs = []
            for c in key_cols:
                aggs.append(F.min(c).alias(f"__lo_{c}"))
                aggs.append(F.max(c).alias(f"__hi_{c}"))
            bounds = source.agg(*aggs).collect()[0]
        declared_types = _declared_from_snap(snap)
        for c in key_cols:
            lo, hi = bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]
            if lo is None and hi is None:
                continue  # all-null keys match nothing, but stay safe
            if not all(_stats_prunable(declared_types.get(c), v)
                       for v in (lo, hi) if v is not None):
                continue  # decimal/timestamp keys: raw-encoded stats
            kept = prune_live_files(
                {**snap, "live": kept}, c, lo=lo, hi=hi
            )["kept"]
        paths = sorted(kept)
    if paths:
        abs_to_rel = {_abs_uri(table_dir, p): p for p in paths}
        target, _ = _attach_partition_columns(
            spark,
            _scan_with_positions(spark, table_dir, paths,
                                 snap.get("schema_json"), part_cols),
            table_dir, paths, pv, snap.get("schema_json"),
        )
        dead = _dead_positions_df(
            spark, table_dir,
            {_abs_uri(table_dir, p): old_dvs[p]
             for p in paths if p in old_dvs},
        )
        alive = (
            target.join(dead, ["__fp", "__ri"], "left_anti")
            if dead is not None else target
        )
        if not clauses:
            matched = alive.join(
                F.broadcast(source.select(*key_cols).distinct()),
                key_cols, "inner",
            )
            if change_data:
                # matched feeds the DV build's collect AND the CDC
                # write (preimage + matched_keys) — materialize the
                # key-match scan once instead of re-running it per
                # action (guide §2/§5; the matched subset is the small
                # side of a 100 TB merge by construction)
                matched = matched.localCheckpoint(
                    eager=True, storageLevel=CHECKPOINT_LEVEL
                )
            updates = _build_dv_updates(
                spark, matched.select("__fp", "__ri"), table_dir,
                abs_to_rel,
                {p: old_dvs[p] for p in paths if p in old_dvs},
            )
            n_updated = sum(fresh for _, _, fresh in updates.values())
            descs = _dv_descriptors(updates, table_dir,
                                    inline_threshold, token)
            if change_data:
                preimage = matched.drop("__fp", "__ri")
                matched_keys = preimage.select(*key_cols).distinct()
                changes = (
                    preimage.withColumn("_change_type",
                                        F.lit("update_preimage"))
                    .unionByName(
                        source.join(matched_keys, key_cols, "left_semi")
                        .withColumn("_change_type",
                                    F.lit("update_postimage")),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        source.join(matched_keys, key_cols, "left_anti")
                        .withColumn("_change_type", F.lit("insert")),
                        allowMissingColumns=True,
                    )
                )
                cdc_acts = _stage_cdc_files(changes, table_dir, token,
                                            "merge",
                                            l2p=_l2p_of(snap))
        else:
            # clause routing against the live target: each category's
            # target rows come from ONE alive scan with the relevant
            # (small, broadcast) source key set.  The routed categories
            # (upd/del/nmbs targets, matched_keys, pair joins) are
            # consumed by THREE separate actions (DV collect, staging
            # write, CDC write) — without this checkpoint each action
            # re-scans the pruned live file set, ~6-8 scans per clause
            # merge (guide §2/§5: materialize the shared intermediate
            # once; serialized blocks, spills to disk at scale)
            alive = alive.localCheckpoint(
                eager=True, storageLevel=CHECKPOINT_LEVEL
            )
            src_keys = source.select(*key_cols).distinct()
            t_other = [c for c in alive.columns if c not in key_cols]

            def _matched_targets(src_df):
                """Target rows with a matching source row; with a
                residual (the ON clause's non-equi conjuncts), only
                pairs PASSING it count."""
                if matched_residual is None:
                    return alive.join(
                        F.broadcast(
                            src_df.select(*key_cols).distinct()),
                        key_cols, "inner",
                    )
                return (
                    alive.alias("t")
                    .join(F.broadcast(src_df.alias("s")), key_cols,
                          "inner")
                    .filter(matched_residual)
                    .select(*key_cols,
                            *[F.col(f"t.`{c}`").alias(c)
                              for c in t_other])
                    .dropDuplicates(["__fp", "__ri"])
                )

            upd_targets = _matched_targets(upd_src)
            del_targets = (_matched_targets(del_src)
                           if del_src is not None else None)
            if not_matched_by_source_delete is None:
                nmbs_targets = None
            elif matched_residual is None:
                nmbs_targets = (
                    alive.join(F.broadcast(src_keys), key_cols,
                               "left_anti")
                    .filter(not_matched_by_source_delete)
                )
            else:
                # full-ON matched-ness (ADVICE r14 medium): Spark and
                # Delta judge NOT MATCHED BY SOURCE on the WHOLE ON
                # predicate, so a target row whose key matches but
                # whose every pair fails the residual IS by-source —
                # anti-join on passing PAIR positions, not keys
                matched_pos = (
                    alive.alias("t")
                    .join(F.broadcast(source.alias("s")), key_cols,
                          "inner")
                    .filter(matched_residual)
                    .select("__fp", "__ri").distinct()
                )
                nmbs_targets = (
                    alive.join(matched_pos, ["__fp", "__ri"],
                               "left_anti")
                    .filter(not_matched_by_source_delete)
                )
            tagged = upd_targets.select("__fp", "__ri").withColumn(
                "__why", F.lit("upd"))
            for extra in (del_targets, nmbs_targets):
                if extra is not None:
                    tagged = tagged.unionByName(
                        extra.select("__fp", "__ri")
                        .withColumn("__why", F.lit("del"))
                    )
            # the upd/del counts ride the DV build's collect as
            # observed metrics — previously a SEPARATE groupBy job over
            # the same tagged frame (guide §1/§2: one action carries
            # both facets)
            from pyspark.sql import Observation

            obs_tag = Observation()
            tagged = tagged.observe(
                obs_tag,
                F.sum(F.when(F.col("__why") == "upd", 1)
                      .otherwise(0)).alias("__n_upd"),
                F.sum(F.when(F.col("__why") == "del", 1)
                      .otherwise(0)).alias("__n_del"),
            )
            updates = _build_dv_updates(
                spark, tagged.select("__fp", "__ri"), table_dir,
                abs_to_rel,
                {p: old_dvs[p] for p in paths if p in old_dvs},
            )
            tag_metrics = obs_tag.get
            n_updated = int(tag_metrics["__n_upd"] or 0)
            n_deleted = int(tag_metrics["__n_del"] or 0)
            descs = _dv_descriptors(updates, table_dir,
                                    inline_threshold, token)
            matched_keys = F.broadcast(
                alive.join(F.broadcast(src_keys), key_cols, "left_semi")
                .select(*key_cols).distinct()
            )
            if matched_residual is None:
                upd_m = upd_src.join(matched_keys, key_cols,
                                     "left_semi")
                ins_rows = ins_src.join(matched_keys, key_cols,
                                        "left_anti")
            else:
                # SOURCE rows with >= 1 passing pair restage
                s_other = [c for c in upd_src.columns
                           if c not in key_cols]
                upd_m = (
                    alive.alias("t")
                    .join(F.broadcast(upd_src.alias("s")), key_cols,
                          "inner")
                    .filter(matched_residual)
                    .select(*key_cols,
                            *[F.col(f"s.`{c}`").alias(c)
                              for c in s_other])
                    .distinct()
                )
                # full-ON matched-ness (ADVICE r14 medium): a source
                # row is NOT MATCHED iff no target pair satisfies
                # key-eq AND the residual — Spark/Delta judge
                # matched-ness on the whole ON predicate, so a
                # key-matched row whose every pair fails the residual
                # INSERTS (e.g. a stale CDC row under INSERT *).
                # Null-safe equality on every column so a matched
                # source row carrying NULLs is still excluded.
                i_cols = ins_src.columns
                matched_src = (
                    alive.alias("t")
                    .join(F.broadcast(ins_src.alias("s")), key_cols,
                          "inner")
                    .filter(matched_residual)
                    .select(*key_cols,
                            *[F.col(f"s.`{c}`").alias(c)
                              for c in i_cols if c not in key_cols])
                    .distinct()
                )
                anti = functools.reduce(
                    lambda a, b: a & b,
                    [F.col(f"i.`{c}`").eqNullSafe(F.col(f"m.`{c}`"))
                     for c in i_cols],
                )
                ins_rows = (
                    ins_src.alias("i")
                    .join(F.broadcast(matched_src.alias("m")), anti,
                          "left_anti")
                )

            def _proj(d):
                return (d.select(*declared_cols)
                        if declared_cols is not None else d)

            if matched_set is not None:
                # per-column UPDATE SET: new versions compute from the
                # matched PAIR (target alias t, source alias s); the
                # USING-join flattens the keys, unassigned columns
                # keep the target value
                dup = (upd_m.groupBy(*key_cols).count()
                       .filter("count > 1").limit(1).count())
                if dup:
                    raise ValueError(
                        "matched_set needs exactly ONE update row per "
                        "key; compact the source first"
                    )
                tcols = declared_cols or [
                    c for c in upd_targets.columns
                    if c not in ("__fp", "__ri")
                ]
                unknown = [c for c in matched_set if c not in tcols]
                if unknown:
                    raise ValueError(
                        f"matched_set assigns unknown columns "
                        f"{unknown} (table columns: {tcols})"
                    )
                pairs = (
                    upd_targets.drop("__fp", "__ri").alias("t")
                    .join(F.broadcast(upd_m.alias("s")), key_cols,
                          "inner")
                )
                set_t = _declared_from_snap(snap)
                upd_staged = pairs.select(*[
                    F.col(c) if c in key_cols
                    else ((F.expr(matched_set[c]).cast(set_t[c])
                           if c in set_t
                           else F.expr(matched_set[c])).alias(c)
                          if c in matched_set
                          else F.col(f"t.`{c}`").alias(c))
                    for c in tcols
                ])
                if gen_specs:
                    upd_staged = _apply_generated_columns(
                        upd_staged, gen_specs)
            else:
                upd_staged = _proj(upd_m)
            to_stage = upd_staged.unionByName(_proj(ins_rows))
            adds = _stage_data_files(to_stage, table_dir, token,
                                     partition_by=part_cols or None,
                                     l2p=_l2p_of(snap))
            if change_data:
                changes = (
                    upd_targets.drop("__fp", "__ri")
                    .withColumn("_change_type",
                                F.lit("update_preimage"))
                    .unionByName(
                        upd_staged.withColumn(
                            "_change_type", F.lit("update_postimage")),
                        allowMissingColumns=True,
                    )
                    .unionByName(
                        _proj(ins_rows).withColumn(
                            "_change_type", F.lit("insert")),
                        allowMissingColumns=True,
                    )
                )
                for extra in (del_targets, nmbs_targets):
                    if extra is not None:
                        changes = changes.unionByName(
                            extra.drop("__fp", "__ri").withColumn(
                                "_change_type", F.lit("delete")),
                            allowMissingColumns=True,
                        )
                cdc_acts = _stage_cdc_files(changes, table_dir, token,
                                            "merge",
                                            l2p=_l2p_of(snap))
    elif clauses:
        # empty (or fully pruned-away) target: nothing matches, so the
        # NOT MATCHED insert clause decides everything
        to_stage = (ins_src.select(*declared_cols)
                    if declared_cols is not None else ins_src)
        adds = _stage_data_files(to_stage, table_dir, token,
                                 partition_by=part_cols or None,
                                 l2p=_l2p_of(snap))
        if change_data:
            cdc_acts = _stage_cdc_files(
                to_stage.withColumn("_change_type", F.lit("insert")),
                table_dir, token, "merge", l2p=_l2p_of(snap),
            )
    elif change_data:
        cdc_acts = _stage_cdc_files(
            source.withColumn("_change_type", F.lit("insert")),
            table_dir, token, "merge", l2p=_l2p_of(snap),
        )
    if not adds and not descs:
        # empty source touching nothing: no commit to make
        return {"version": None, "n_files_touched": 0,
                "n_rows_updated": 0, "n_rows_deleted": 0,
                "n_files_added": 0, "n_records_added": 0}

    # clause mode projects staged rows to the table's declared schema,
    # so the re-emitted metaData must keep that schema, not the
    # source's (which may carry CDC bookkeeping columns); generated-
    # column tables likewise keep the recorded schema — re-deriving it
    # from the source would WIPE the generation expressions
    schema_string = (
        snap["schema_json"]
        if snap.get("schema_json") and (clauses or gen_specs)
        else source.schema.json()
    )
    # under column mapping the re-emitted schema must keep (or, for
    # schema-changing merges, freshly assign) physicalName/id
    # metadata — re-emitting the source's bare schema would strip the
    # mapping and stale-name every data file (round 15)
    schema_string, cm_cfg = _carry_mapping_schema(schema_string, snap)
    for _ in range(max_retries):
        cur = snapshot(table_dir)
        conflicts = _conflicting_paths(snap, cur, sorted(descs))
        if conflicts:
            raise ValueError(
                f"merge conflict: files changed concurrently "
                f"({conflicts[:3]})"
            )
        if (not_matched_by_source_delete is not None
                and cur["live"] != snap["live"]):
            # the NMBS clause's read-set is the WHOLE table (rows to
            # delete are defined by key ABSENCE), so ANY concurrent
            # file-set change — even an append this writer never
            # touched — invalidates the scan: its new rows escaped
            # the delete decision (write skew).  Delta's own
            # serializable MERGE aborts the same way.
            raise ValueError(
                "merge conflict: the file set changed since the "
                "NOT MATCHED BY SOURCE scan (its read-set is the "
                "whole table) — re-run the merge"
            )
        version = cur["version"] + 1
        acts: list[dict] = []
        if version == 0:
            acts.append({"protocol": {"minReaderVersion": 1,
                                      "minWriterVersion": 2}})
        acts.append({"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": part_cols,
            "configuration": {
                **(cur.get("metadata_configuration") or {}),
                **(cm_cfg or {}),
            },
        }})
        for rel in sorted(descs):
            size, rows = cur["live"][rel]
            acts.append({"remove": {"path": rel, "dataChange": True}})
            add = {"path": rel, "size": size, "numRecords": rows,
                   "partitionValues": pv.get(rel, {}),
                   "deletionVector": descs[rel], "dataChange": True}
            if rel in fstats:
                add["stats"] = json.dumps(
                    fstats[rel], sort_keys=True, separators=(",", ":")
                )
            acts.append({"add": add})
        acts.extend({"add": {**a, "dataChange": True}} for a in adds)
        acts.extend(cdc_acts)
        acts.append({"commitInfo": {"operation": "MERGE",
                                    "matchedOn": key_cols}})
        acts = _upgrade_actions(table_dir, cur, acts)
        if _claim_version(table_dir, version, _stamped_commit(acts), token):
            _maybe_checkpoint(table_dir, version, checkpoint_interval)
            return {"version": version,
                    "n_files_touched": len(descs),
                    "n_rows_updated": n_updated,
                    "n_rows_deleted": n_deleted,
                    "n_files_added": len(adds),
                    "n_records_added": sum(
                        a["numRecords"] for a in adds)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def read_changes(
    spark,
    table_dir: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """CHANGE DATA FEED: the row-level changes committed in versions
    ``(v_from, v_to]`` (PROTOCOL.md "Change Data Files") — what an
    incremental downstream consumer reads INSTEAD of diffing two full
    snapshots.  Returns the table columns plus ``_change_type``
    (``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage``) and ``_commit_version``.

    Per commit: when cdc actions are present they are the COMPLETE
    change description and the commit's add/remove actions are
    ignored (the spec's rule — a DV re-add is bookkeeping, not an
    insert).  Otherwise dataChange adds surface as inserts and
    dataChange removes as deletes (whole-file changes: append and
    overwrite commits), with partition columns re-attached from the
    action's partitionValues and any pre-existing deletion vectors
    applied (a row already dead before the commit did not change in
    it).  A commit that moved rows via deletion vectors WITHOUT
    writing change data (``change_data=False``) fails loudly — CDF
    cannot reconstruct row-level history it was told not to record.
    ``dataChange: false`` commits (OPTIMIZE) are invisible here, as
    they must be.

    RESTORE commits (round 12, ADVICE r11): a restore re-adds files
    WITH their historical deletion-vector descriptors and writes no
    change data — here the feed is SYNTHESIZED file-level: each
    re-added file's new live rows (file minus its re-added DV) surface
    as inserts, its previous incarnation's live rows (when it was live
    before) and every removed file's live rows as deletes, so the
    v_from ± feed == v_to equation keeps holding across a restore.

    ONE INCREMENTAL PASS (VERDICT r11 What's wrong #2): the replay
    state seeds once as of ``v_from`` (checkpoint-aware) and advances
    commit by commit — O(seed + range), never O(range × log)."""
    from pyspark.sql import functions as F

    cur = snapshot(table_dir)
    last = cur["version"]
    if last < 0:
        raise ValueError("empty delta log")
    if v_to is None:
        v_to = last
    if not -1 <= v_from <= v_to <= last:
        raise ValueError(
            f"change range ({v_from}, {v_to}] outside versions 0..{last}"
        )

    def _actions(text: str) -> list[dict]:
        return [json.loads(ln) for ln in text.splitlines() if ln.strip()]

    out: DataFrame | None = None

    def _accumulate(df: DataFrame) -> None:
        nonlocal out
        out = df if out is None else out.unionByName(
            df, allowMissingColumns=True
        )

    state = snapshot_as_of(table_dir, v_from) if v_from >= 0 else None
    texts = read_log_commits_from(table_dir, v_from + 1)
    for v in range(v_from + 1, v_to + 1):
        text = texts[v - (v_from + 1)]
        acts = _actions(text)
        prev = state
        # translated view per advance (round 15): change-file scans
        # and partition re-attachment keep speaking logical names on
        # column-mapped tables (translation is idempotent, so feeding
        # the translated state back into the next advance is safe)
        state = _mapped_snapshot_view(_advance_replay(state, text, v))
        cdc_paths = [a["cdc"]["path"] for a in acts if "cdc" in a]
        if cdc_paths:
            _accumulate(
                _p2l_rename(spark.read.parquet(
                    *[os.path.join(table_dir, p) for p in cdc_paths]
                ), state).withColumn("_commit_version",
                             F.nullif(F.lit(v).cast("long"),
                                      F.lit(-1).cast("long")))
            )
            continue
        adds = [a["add"] for a in acts
                if "add" in a and a["add"].get("dataChange")]
        removes = [a["remove"] for a in acts
                   if "remove" in a and a["remove"].get("dataChange")]
        if not adds and not removes:
            continue  # metaData / txn / commitInfo-only commit
        op = next(
            (a["commitInfo"].get("operation") for a in acts
             if "commitInfo" in a),
            None,
        )
        if op != "RESTORE" and any(a.get("deletionVector") for a in adds):
            raise ValueError(
                f"version {v} changed rows via deletion vectors but "
                "wrote no change data files; CDF cannot reconstruct it"
            )

        def _file_rows(paths: list[str], pvals: dict[str, dict],
                       dv_map: dict[str, dict], change: str,
                       version: int, schema_json: str | None) -> DataFrame:
            cm = _column_mapping(schema_json, {_CM_MODE_PROP: "name"})
            if cm:
                # add-action partitionValues are keyed PHYSICAL on
                # column-mapped tables; translate before re-attaching
                p2l = cm["p2l"]
                pvals = {p: {p2l.get(k, k): x for k, x in v.items()}
                         for p, v in pvals.items()}
            pc = sorted({c for p in paths for c in pvals.get(p, {})})
            df = _scan_with_positions(spark, table_dir, paths,
                                      schema_json, pc)
            df, _ = _attach_partition_columns(
                spark, df, table_dir, paths, pvals,
                schema_json,
            )
            dead = _dead_positions_df(
                spark, table_dir,
                {_abs_uri(table_dir, p): dv_map[p]
                 for p in paths if p in dv_map},
            )
            if dead is not None:
                df = df.join(dead, ["__fp", "__ri"], "left_anti")
            return (
                df.drop("__fp", "__ri")
                # nullif() makes both CDF columns NULLABLE (a bare
                # lit() is non-nullable and when(true, ...) folds) so
                # synthesized commits carry the same schema as the
                # cdc-file commits (whose parquet reads are nullable)
                # — a per-commit consumer appending batches must see
                # ONE schema (round 13, the streaming source); the
                # sentinels never occur, so values are unchanged
                .withColumn("_change_type",
                            F.nullif(F.lit(change), F.lit("")))
                .withColumn("_commit_version",
                            F.nullif(F.lit(version).cast("long"),
                                     F.lit(-1).cast("long")))
            )

        if adds:
            # the re-add's OWN descriptors bound its new live rows —
            # {} outside RESTORE (DV adds raise above)
            add_dvs = {a["path"]: a["deletionVector"] for a in adds
                       if a.get("deletionVector")}
            _accumulate(_file_rows(
                [a["path"] for a in adds],
                {a["path"]: a.get("partitionValues") or {}
                 for a in adds},
                add_dvs, "insert", v, state.get("schema_json"),
            ))
            if op == "RESTORE" and prev is not None:
                # a restore RE-ADD replaces the path's previous
                # incarnation: its previous live rows leave the table
                prev_readds = [a["path"] for a in adds
                               if a["path"] in prev["live"]]
                if prev_readds:
                    _accumulate(_file_rows(
                        prev_readds,
                        {p: prev.get("partition_values", {}).get(p, {})
                         for p in prev_readds},
                        prev.get("deletion_vectors", {}), "delete", v,
                        prev.get("schema_json"),
                    ))
        if removes:
            rm_paths = [r["path"] for r in removes]
            _accumulate(_file_rows(
                rm_paths,
                {p: prev.get("partition_values", {}).get(p, {})
                 for p in rm_paths},
                prev.get("deletion_vectors", {}), "delete", v,
                prev.get("schema_json"),
            ))
    if out is not None:
        return out
    # empty range: an empty frame with the table's schema + CDF columns
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    snap = cur
    base = (
        StructType.fromJson(json.loads(snap["schema_json"]))
        if snap.get("schema_json") else StructType([])
    )
    schema = StructType(
        list(base.fields)
        + [StructField("_change_type", StringType()),
           StructField("_commit_version", LongType())]
    )
    return spark.createDataFrame([], schema)


def restore_delta(
    table_dir: str,
    version: int,
    checkpoint_interval: int = 10,
    max_retries: int = 10,
) -> dict:
    """RESTORE TABLE TO VERSION AS OF ``version`` — a NEW commit that
    makes the current snapshot equal the historical one while keeping
    the history (delta-io RESTORE semantics: time travel that writes).
    Metadata-only: files live then but dropped since RE-ADD with their
    original size/rows/partitionValues/stats/deletion-vector
    descriptors (the un-vacuumed bytes are still on disk — which is
    exactly why VACUUM retention gates restore depth), files added
    since are REMOVED.  O(restored files) actions, no data read.

    Returns ``{version, restored_to, n_readds, n_removes}``."""
    cur0 = snapshot(table_dir)
    if not 0 <= version <= cur0["version"]:
        raise ValueError(
            f"restore target {version} outside versions "
            f"0..{cur0['version']}"
        )
    target = snapshot_as_of(table_dir, version)
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        cur = snapshot(table_dir)
        t_dvs = target.get("deletion_vectors", {})
        t_pv = target.get("partition_values", {})
        t_stats = target.get("file_stats", {})
        c_dvs = cur.get("deletion_vectors", {})
        readds = [
            p for p, meta in target["live"].items()
            if cur["live"].get(p) != meta
            or c_dvs.get(p) != t_dvs.get(p)
            or cur.get("partition_values", {}).get(p) != t_pv.get(p)
        ]
        removes = sorted(set(cur["live"]) - set(target["live"]))
        if not readds and not removes:
            return {"version": None, "restored_to": version,
                    "n_readds": 0, "n_removes": 0}
        acts: list[dict] = [{"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": target["schema_json"],
            "partitionColumns": (
                target.get("partition_columns")
                or sorted({c for v in t_pv.values() for c in v})
            ),
            "configuration": target.get("metadata_configuration") or {},
        }}]
        acts.extend(
            {"remove": {"path": p, "dataChange": True}} for p in removes
        )
        for p in sorted(readds):
            size, rows = target["live"][p]
            if not os.path.exists(os.path.join(table_dir, p)):
                raise ValueError(
                    f"restore needs vacuumed file {p!r} — version "
                    f"{version} is beyond the vacuum horizon"
                )
            add = {"path": p, "size": size, "numRecords": rows,
                   "partitionValues": t_pv.get(p, {}),
                   "dataChange": True}
            if p in t_dvs:
                add["deletionVector"] = t_dvs[p]
            if p in t_stats:
                add["stats"] = json.dumps(
                    t_stats[p], sort_keys=True, separators=(",", ":")
                )
            acts.append({"add": add})
        acts.append({"commitInfo": {"operation": "RESTORE",
                                    "version": version}})
        acts = _upgrade_actions(table_dir, cur, acts)
        new_version = cur["version"] + 1
        if _claim_version(table_dir, new_version, _stamped_commit(acts),
                          token):
            _maybe_checkpoint(table_dir, new_version,
                              checkpoint_interval)
            return {"version": new_version, "restored_to": version,
                    "n_readds": len(readds), "n_removes": len(removes)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


#: SQL type spelling -> Delta schema-JSON type name (scalars only —
#: the disciplined subset the pruning/stats machinery understands)
_SQL_TO_JSON_TYPE = {
    "tinyint": "byte", "byte": "byte",
    "smallint": "short", "short": "short",
    "int": "integer", "integer": "integer",
    "bigint": "long", "long": "long",
    "float": "float", "real": "float",
    "double": "double",
    "string": "string", "varchar": "string", "text": "string",
    "boolean": "boolean", "bool": "boolean",
    "date": "date", "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz", "binary": "binary",
}


def add_columns_delta(table_dir: str, columns: dict[str, str],
                      max_retries: int = 10) -> dict:
    """ALTER TABLE ADD COLUMNS (round 14): a metaData-only commit
    appending nullable columns to the declared schema — old files
    simply surface NULLs for them (the declared schema is the read
    contract, `_scan_with_positions`), no data rewrite.  ``columns``
    maps name -> SQL type spelling (scalars only; unknown types are
    refused loudly).

    Returns ``{version, n_columns_added}``."""
    if not columns:
        raise ValueError("ADD COLUMNS needs at least one column")
    typed = {}
    for name, t in columns.items():
        jt = _SQL_TO_JSON_TYPE.get(t.strip().lower())
        if jt is None:
            raise ValueError(
                f"unsupported column type {t!r} for {name!r} "
                f"(supported: {sorted(set(_SQL_TO_JSON_TYPE))})"
            )
        typed[name] = jt
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap["version"] < 0 or not snap.get("schema_json"):
            raise ValueError("cannot ALTER a table with no schema")
        schema = json.loads(snap["schema_json"])
        have = {f["name"] for f in schema.get("fields", [])}
        dup = sorted(set(typed) & have)
        if dup:
            raise ValueError(f"columns already exist: {dup}")
        schema["fields"] = list(schema.get("fields", [])) + [
            {"name": n, "type": jt, "nullable": True, "metadata": {}}
            for n, jt in typed.items()
        ]
        # under column mapping the new fields get fresh ids + uuid
        # physical names and maxColumnId advances (round 15)
        schema_string, cm_cfg = _carry_mapping_schema(
            json.dumps(schema, sort_keys=True, separators=(",", ":")),
            snap)
        version = snap["version"] + 1
        acts = [{"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string,
            "partitionColumns": snap.get("partition_columns") or [],
            "configuration": {
                **(snap.get("metadata_configuration") or {}),
                **(cm_cfg or {}),
            },
        }}, {"commitInfo": {"operation": "ADD COLUMNS"}}]
        if _claim_version(table_dir, version, _stamped_commit(acts),
                          token):
            return {"version": version,
                    "n_columns_added": len(typed)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def enable_column_mapping_delta(table_dir: str,
                                max_retries: int = 10) -> dict:
    """Turn ON name-mode column mapping (round 15, VERDICT r14
    next-round #3) — the protocol upgrade RENAME/DROP COLUMN require.
    One metadata-only commit: every existing field gets
    ``delta.columnMapping.id`` (1..n) and a ``physicalName`` EQUAL to
    its current name (so every existing data file, partitionValues
    map and stats blob keeps resolving untouched — the same upgrade
    path Delta's own ALTER uses), the configuration gains
    ``delta.columnMapping.{mode,maxColumnId}``, and the protocol
    advances to (2, 5) — the column-mapping reader/writer gate.

    Returns ``{version, n_columns_mapped}`` (skipped-shape when
    already enabled)."""
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap["version"] < 0 or not snap.get("schema_json"):
            raise ValueError(
                "cannot enable column mapping on a table with no "
                "recorded schema"
            )
        if snap.get("column_mapping"):
            return {"version": None, "skipped": True,
                    "n_columns_mapped": 0}
        schema = json.loads(snap["schema_json"])
        fields = schema.get("fields", [])
        for i, f in enumerate(fields, start=1):
            f["metadata"] = {**(f.get("metadata") or {}),
                             _CM_ID_KEY: i,
                             _CM_PHYS_KEY: f["name"]}
        version = snap["version"] + 1
        acts = [
            {"protocol": {"minReaderVersion": 2,
                          "minWriterVersion": 5}},
            {"metaData": {
                "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": json.dumps(schema, sort_keys=True,
                                           separators=(",", ":")),
                "partitionColumns": snap.get("partition_columns")
                or [],
                "configuration": {
                    **(snap.get("metadata_configuration") or {}),
                    _CM_MODE_PROP: "name",
                    _CM_MAXID_PROP: str(len(fields)),
                },
            }},
            {"commitInfo": {"operation": "SET TBLPROPERTIES"}},
        ]
        if _claim_version(table_dir, version, _stamped_commit(acts),
                          token):
            return {"version": version,
                    "n_columns_mapped": len(fields)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def _require_mapping(snap: dict, verb: str) -> None:
    if not snap.get("column_mapping"):
        raise ValueError(
            f"{verb} needs column mapping (physical names decouple "
            "the data files from the logical schema); run "
            "enable_column_mapping_delta / ALTER TABLE ... SET "
            "TBLPROPERTIES ('delta.columnMapping.mode'='name') first "
            "— Delta's own ALTER refuses the same way"
        )


def rename_columns_delta(table_dir: str, renames: dict[str, str],
                         max_retries: int = 10) -> dict:
    """ALTER TABLE ... RENAME COLUMN, metadata-only (round 15): under
    column mapping the parquet files key on the stable physicalName,
    so a rename only swaps the LOGICAL name in schemaString — no data
    file, stats blob or partitionValues entry changes, and time
    travel keeps reading each version under its own names.

    Returns ``{version, n_columns_renamed}``."""
    if not renames:
        raise ValueError("RENAME COLUMN needs at least one rename")
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap["version"] < 0 or not snap.get("schema_json"):
            raise ValueError("cannot ALTER a table with no schema")
        _require_mapping(snap, "RENAME COLUMN")
        schema = json.loads(snap["schema_json"])
        have = {f["name"] for f in schema.get("fields", [])}
        missing = sorted(set(renames) - have)
        if missing:
            raise ValueError(f"no such columns: {missing}")
        clash = sorted(
            (set(renames.values()) & (have - set(renames)))
            | {n for n in renames.values()
               if list(renames.values()).count(n) > 1}
        )
        if clash:
            raise ValueError(f"target names already exist: {clash}")
        gen_sources = {
            f["source"] for f in _generated_transforms(snap)
        }
        for f in schema.get("fields", []):
            if f["name"] in renames:
                f["name"] = renames[f["name"]]
        gen_hit = sorted(set(renames) & gen_sources)
        if gen_hit:
            raise ValueError(
                f"columns {gen_hit} are generated-column sources; "
                "rename would orphan the generation expression"
            )
        part_cols = [
            renames.get(c, c)
            for c in (snap.get("partition_columns") or [])
        ]
        version = snap["version"] + 1
        acts = [{"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema, sort_keys=True,
                                       separators=(",", ":")),
            "partitionColumns": part_cols,
            "configuration": snap.get("metadata_configuration") or {},
        }}, {"commitInfo": {"operation": "RENAME COLUMN"}}]
        if _claim_version(table_dir, version, _stamped_commit(acts),
                          token):
            return {"version": version,
                    "n_columns_renamed": len(renames)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def drop_columns_delta(table_dir: str, cols: list[str],
                       max_retries: int = 10) -> dict:
    """ALTER TABLE ... DROP COLUMN, metadata-only (round 15): the
    field leaves schemaString; the physical bytes stay in old files,
    unprojected (the declared schema is the read contract).  Requires
    column mapping, like Delta's own ALTER.  Partition columns and
    generated-column sources are refused (the layout / expression
    would dangle).

    Returns ``{version, n_columns_dropped}``."""
    if not cols:
        raise ValueError("DROP COLUMN needs at least one column")
    token = uuid.uuid4().hex[:12]
    for _ in range(max_retries):
        snap = snapshot(table_dir)
        if snap["version"] < 0 or not snap.get("schema_json"):
            raise ValueError("cannot ALTER a table with no schema")
        _require_mapping(snap, "DROP COLUMN")
        schema = json.loads(snap["schema_json"])
        have = {f["name"] for f in schema.get("fields", [])}
        missing = sorted(set(cols) - have)
        if missing:
            raise ValueError(f"no such columns: {missing}")
        if set(cols) >= have:
            raise ValueError("cannot drop every column")
        bad_part = sorted(
            set(cols) & set(snap.get("partition_columns") or [])
        )
        if bad_part:
            raise ValueError(
                f"columns {bad_part} are partition columns; dropping "
                "them would orphan the layout (Delta refuses too)"
            )
        gen_sources = {
            f["source"] for f in _generated_transforms(snap)
        }
        bad_gen = sorted(set(cols) & gen_sources)
        if bad_gen:
            raise ValueError(
                f"columns {bad_gen} are generated-column sources; "
                "drop the generated column first"
            )
        schema["fields"] = [f for f in schema.get("fields", [])
                            if f["name"] not in set(cols)]
        version = snap["version"] + 1
        acts = [{"metaData": {
            "id": str(uuid.uuid5(uuid.NAMESPACE_URL, table_dir)),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema, sort_keys=True,
                                       separators=(",", ":")),
            "partitionColumns": snap.get("partition_columns") or [],
            "configuration": snap.get("metadata_configuration") or {},
        }}, {"commitInfo": {"operation": "DROP COLUMNS"}}]
        if _claim_version(table_dir, version, _stamped_commit(acts),
                          token):
            return {"version": version,
                    "n_columns_dropped": len(cols)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def vacuum_delta(table_dir: str, retention_versions: int | None = None,
                 retention_hours: float | None = None) -> dict:
    """Execute VACUUM: physically delete (a) tombstoned data files
    dead for more than the retention horizon
    (`deltalog.vacuum_plan` decides — time travel and RESTORE past the
    horizon are forfeited, inside it they keep working), (b) deletion-
    vector sidecars no snapshot INSIDE the retention window references,
    and (c) change-data files of commits at or before the horizon
    (CDF reads within the window keep working).  O(retention × log)
    driver-side metadata walk + unlinks; no data read.

    The horizon is EITHER ``retention_versions`` commits below the
    current version OR ``retention_hours`` of wall-clock age (round
    13, VERDICT r12 next-round #9 — the spec's
    ``delta.deletedFileRetentionDuration`` semantics, default 1 week):
    a commit counts as past the age horizon when its log JSON's
    modification time predates the cutoff, so a tombstone recorded by
    a younger commit can never be vacuumed.  Pass exactly one.

    Returns ``{n_files_deleted, n_sidecars_deleted, n_cdc_deleted,
    bytes_reclaimed}``."""
    import time
    import uuid as _uuid

    from ..operators.deltalog import vacuum_plan, z85_decode

    if (retention_versions is None) == (retention_hours is None):
        raise ValueError(
            "pass exactly one of retention_versions / retention_hours"
        )
    cur = snapshot(table_dir)
    if cur["version"] < 0:
        return {"n_files_deleted": 0, "n_sidecars_deleted": 0,
                "n_cdc_deleted": 0, "bytes_reclaimed": 0}
    if retention_hours is not None:
        if retention_hours < 0:
            raise ValueError("retention_hours must be >= 0")
        cutoff = time.time() - retention_hours * 3600.0

        def _commit_epoch(v: int) -> float:
            """A commit's age: the in-log ``commitInfo.timestamp``
            when present (survives copy/rsync/restore of the log
            directory — VERDICT r13 next-round #8), file mtime as the
            legacy fallback."""
            path = _commit_path(table_dir, v)
            try:
                with open(path, encoding="utf-8") as fh:
                    lines = fh.readlines()
                # _stamped_commit appends commitInfo LAST, so scan in
                # reverse and JSON-parse only candidate lines — a
                # forward parse-everything walk would decode every
                # add action of every commit on every age-based
                # vacuum (ADVICE r14)
                for line in reversed(lines):
                    if not line.strip() or '"commitInfo"' not in line:
                        continue
                    obj = json.loads(line)
                    ts = obj.get("commitInfo", {}).get("timestamp")
                    if isinstance(ts, int):
                        return ts / 1000.0
            except (OSError, ValueError):
                pass
            return os.path.getmtime(path)

        # the horizon is the oldest CONTIGUOUS aged prefix, not
        # max(aged) (ADVICE r13 low): under non-monotonic commit
        # times (clock skew, restored logs) max(aged) could be
        # younger than an un-aged intermediate commit, putting that
        # commit's tombstones below the horizon and vacuuming files
        # deleted more recently than the stated retention
        horizon_v = -1
        for v in sorted(_json_versions(table_dir)):
            if _commit_epoch(v) < cutoff:
                horizon_v = v
            else:
                break
        if horizon_v < 0:
            return {"n_files_deleted": 0, "n_sidecars_deleted": 0,
                    "n_cdc_deleted": 0, "bytes_reclaimed": 0}
        retention_versions = cur["version"] - horizon_v
    plan = vacuum_plan(cur, retention_versions)
    horizon = cur["version"] - retention_versions

    def _sidecar_path(desc: dict) -> str | None:
        st = desc.get("storageType")
        if st == "p":
            return desc.get("pathOrInlineDv")
        if st == "u":
            enc = desc.get("pathOrInlineDv", "")
            prefix, uid85 = enc[:-20], enc[-20:]
            uid = _uuid.UUID(bytes=z85_decode(uid85))
            return (f"{prefix}/" if prefix else "") + (
                f"deletion_vector_{uid}.bin"
            )
        return None

    # one INCREMENTAL walk over the retention window (round 12): seed
    # the state once at the horizon (checkpoint-aware) and advance
    # commit by commit — O(seed + window), not O(window × log).  A
    # window whose states cannot be resolved (JSON cleaned below every
    # checkpoint) deletes NO sidecars — conservative, never dangling.
    lo = max(0, horizon)
    keep_sidecars: set[str] | None = set()
    try:
        state = snapshot_as_of(table_dir, lo)
        tail = read_log_commits_from(table_dir, lo + 1)
        versions_states = [state]
        for i, v in enumerate(range(lo + 1, cur["version"] + 1)):
            state = _advance_replay(state, tail[i], v)
            versions_states.append(state)
        for st in versions_states:
            for d in st.get("deletion_vectors", {}).values():
                p = _sidecar_path(d)
                if p:
                    keep_sidecars.add(p)
    except ValueError:
        keep_sidecars = None  # unresolvable window: keep everything
    disk_sidecars = {
        f for f in os.listdir(table_dir)
        if f.startswith("deletion_vector_") and f.endswith(".bin")
    }
    dead_sidecars = (
        sorted(disk_sidecars - keep_sidecars)
        if keep_sidecars is not None else []
    )

    # change-data files of commits at or before the horizon: walk the
    # AVAILABLE JSON commits only (cleaned ones took their cdc
    # discovery with them — their files leak rather than dangle)
    dead_cdc: list[str] = []
    for v in _json_versions(table_dir):
        if v > horizon:
            break
        for ln in open(_commit_path(table_dir, v),
                       encoding="utf-8").read().splitlines():
            if not ln.strip():
                continue
            obj = json.loads(ln)
            if "cdc" in obj:
                dead_cdc.append(obj["cdc"]["path"])

    reclaimed = 0
    n_files = 0
    for p in plan["eligible"]:
        full = os.path.join(table_dir, p)
        try:
            reclaimed += os.path.getsize(full)
            os.unlink(full)
            n_files += 1
        except OSError:
            pass  # already gone: vacuum is idempotent
    n_side = 0
    for p in dead_sidecars:
        try:
            reclaimed += os.path.getsize(os.path.join(table_dir, p))
            os.unlink(os.path.join(table_dir, p))
            n_side += 1
        except OSError:
            pass
    n_cdc = 0
    for p in sorted(set(dead_cdc)):
        full = os.path.join(table_dir, p)
        try:
            reclaimed += os.path.getsize(full)
            os.unlink(full)
            n_cdc += 1
        except OSError:
            pass
    return {"n_files_deleted": n_files, "n_sidecars_deleted": n_side,
            "n_cdc_deleted": n_cdc, "bytes_reclaimed": reclaimed}


def update_where_delta(
    spark,
    table_dir: str,
    condition: str,
    assignments: dict[str, str],
    inline_threshold: int = 512,
    checkpoint_interval: int = 10,
    max_retries: int = 10,
    change_data: bool = True,
) -> dict:
    """UPDATE ... SET col = expr WHERE condition — the third DML verb,
    composed from the same primitives as DELETE and MERGE: the matched
    LIVE rows are tombstoned by deletion vectors (serialized on
    executors, O(touched files) at the driver) and their updated
    versions append as new data files — ONE atomic commit, no existing
    file rewritten.  ``assignments`` maps column name → Spark SQL
    expression (evaluated against the matched row, so
    ``{"v": "v + 1"}`` works).  Updating a partition column moves the
    row to its new partition directory naturally, because the updated
    rows restage through the table's Hive layout.

    ``change_data=True`` writes update_preimage/update_postimage rows
    (PROTOCOL.md "Change Data Files") in the same commit.

    Returns ``{version, n_files_touched, n_rows_updated,
    n_files_added}``."""
    from pyspark.sql import functions as F

    for c in assignments:
        if not isinstance(c, str) or not c:
            raise ValueError("assignment target must be a column name")
    snap = snapshot(table_dir)
    if not snap["live"]:
        return {"version": None, "n_files_touched": 0,
                "n_rows_updated": 0, "n_files_added": 0}
    paths, _prune_counts = _prune_dml_paths(
        table_dir, snap, condition,
        transforms=_generated_transforms(snap),
    )
    if not paths:
        return {"version": None, "n_files_touched": 0,
                "n_rows_updated": 0, "n_files_added": 0}
    abs_to_rel = {_abs_uri(table_dir, p): p for p in paths}
    pv = snap.get("partition_values", {})
    old_dvs = snap.get("deletion_vectors", {})
    fstats = snap.get("file_stats", {})
    part_cols = sorted({c for p in paths for c in pv.get(p, {})})
    df, _ = _attach_partition_columns(
        spark,
        _scan_with_positions(spark, table_dir, paths,
                             snap.get("schema_json"), part_cols),
        table_dir, paths, pv, snap.get("schema_json"),
    )
    dead = _dead_positions_df(
        spark, table_dir,
        {_abs_uri(table_dir, p): old_dvs[p]
         for p in paths if p in old_dvs},
    )
    alive = (
        df.join(dead, ["__fp", "__ri"], "left_anti")
        if dead is not None else df
    )
    matched = alive.filter(condition)
    token = uuid.uuid4().hex[:12]
    updates = _build_dv_updates(
        spark, matched.select("__fp", "__ri"), table_dir,
        abs_to_rel, {p: old_dvs[p] for p in paths if p in old_dvs},
    )
    if not updates:
        return {"version": None, "n_files_touched": 0,
                "n_rows_updated": 0, "n_files_added": 0}
    n_updated = sum(fresh for _, _, fresh in updates.values())
    descs = _dv_descriptors(updates, table_dir, inline_threshold, token)

    preimage = matched.drop("__fp", "__ri")
    # ALL right-hand sides evaluate against the PRE-update row (SQL
    # UPDATE semantics): one simultaneous projection, so
    # {"a": "b", "b": "a"} swaps instead of copying
    gen_specs = _generated_transforms(snap)
    bad = [f["name"] for f in gen_specs if f["name"] in assignments]
    if bad:
        raise ValueError(
            f"cannot assign generated columns {bad}; update their "
            "source columns instead"
        )
    # assignment expressions CAST to the column's declared type
    # (round 14): a literal like 9.0 is decimal(2,1) — staging it raw
    # into a double column writes a decimal-physical file that a
    # declared-schema read then decodes UNSCALED (90.0, not 9.0)
    declared_t = _declared_from_snap(snap)
    postimage = preimage.withColumns({
        c: (F.expr(expr).cast(declared_t[c]) if c in declared_t
            else F.expr(expr))
        for c, expr in assignments.items()
    })
    if gen_specs:
        # an UPDATE touching a generated column's SOURCE must move
        # the row to its new partition — recompute, never keep stale
        postimage = _apply_generated_columns(postimage, gen_specs)
    adds = _stage_data_files(postimage, table_dir, token,
                             partition_by=part_cols or None,
                             l2p=_l2p_of(snap))
    cdc_acts: list[dict] = []
    if change_data:
        cdc_acts = _stage_cdc_files(
            preimage.withColumn("_change_type",
                                F.lit("update_preimage"))
            .unionByName(
                postimage.withColumn("_change_type",
                                     F.lit("update_postimage")),
                allowMissingColumns=True,
            ),
            table_dir, token, "upd", l2p=_l2p_of(snap),
        )

    for _ in range(max_retries):
        cur = snapshot(table_dir)
        conflicts = _conflicting_paths(snap, cur, sorted(descs))
        if conflicts:
            raise ValueError(
                f"update conflict: files changed concurrently "
                f"({conflicts[:3]})"
            )
        version = cur["version"] + 1
        acts: list[dict] = []
        for rel in sorted(descs):
            size, rows = cur["live"][rel]
            acts.append({"remove": {"path": rel, "dataChange": True}})
            add = {"path": rel, "size": size, "numRecords": rows,
                   "partitionValues": pv.get(rel, {}),
                   "deletionVector": descs[rel], "dataChange": True}
            if rel in fstats:
                add["stats"] = json.dumps(
                    fstats[rel], sort_keys=True, separators=(",", ":")
                )
            acts.append({"add": add})
        acts.extend({"add": {**a, "dataChange": True}} for a in adds)
        acts.extend(cdc_acts)
        acts.append({"commitInfo": {"operation": "UPDATE",
                                    "predicate": condition}})
        acts = _upgrade_actions(table_dir, cur, acts)
        if _claim_version(table_dir, version, _stamped_commit(acts), token):
            _maybe_checkpoint(table_dir, version, checkpoint_interval)
            return {"version": version,
                    "n_files_touched": len(descs),
                    "n_rows_updated": n_updated,
                    "n_files_added": len(adds)}
    raise ValueError(
        f"lost {max_retries} version claims in a row; giving up"
    )


def inspect_delta(spark, table_dir: str, kind: str):
    """METADATA TABLES — the DESCRIBE HISTORY / DETAIL surface as
    DataFrames: ``files`` (live adds + skipping stats + DV state),
    ``history`` (one row per commit with its operation), and
    ``tombstones`` (removed files awaiting VACUUM).  O(log) driver
    metadata, no data file opened."""
    if kind not in ("files", "history", "tombstones"):
        raise ValueError(f"unknown metadata table {kind!r}")
    s = snapshot(table_dir)
    snap = s if s["version"] >= 0 else None

    if kind == "files":
        fstats = (snap or {}).get("file_stats", {})
        dvs = (snap or {}).get("deletion_vectors", {})
        pv = (snap or {}).get("partition_values", {})
        rows = [
            (p, size, nrows,
             json.dumps(pv.get(p, {}), sort_keys=True),
             p in fstats,
             int(dvs.get(p, {}).get("cardinality", 0)))
            for p, (size, nrows) in sorted((snap or {}).get(
                "live", {}).items())
        ]
        return spark.createDataFrame(
            rows, "path string, size long, num_records long, "
                  "partition string, has_stats boolean, "
                  "dv_cardinality long",
        )
    if kind == "history":
        # history walks the AVAILABLE JSON commits (a retention-cleaned
        # prefix simply has no history to describe — the versions keep
        # their true numbers)
        rows = []
        for v in _json_versions(table_dir):
            text = open(_commit_path(table_dir, v),
                        encoding="utf-8").read()
            op = None
            n_adds = n_removes = n_cdc = 0
            for ln in text.splitlines():
                if not ln.strip():
                    continue
                obj = json.loads(ln)
                if "commitInfo" in obj:
                    op = obj["commitInfo"].get("operation")
                elif "add" in obj:
                    n_adds += 1
                elif "remove" in obj:
                    n_removes += 1
                elif "cdc" in obj:
                    n_cdc += 1
            rows.append((v, op, n_adds, n_removes, n_cdc))
        return spark.createDataFrame(
            rows, "version long, operation string, n_adds int, "
                  "n_removes int, n_cdc int",
        )
    rows = [
        (p, int(v), int(size))
        for p, (v, size) in sorted((snap or {}).get(
            "tombstones", {}).items())
    ]
    return spark.createDataFrame(
        rows, "path string, deletion_version long, size long",
    )
