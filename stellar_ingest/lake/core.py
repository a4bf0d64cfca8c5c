"""icebox — a minimal from-scratch Iceberg-*semantics* table format.

No Iceberg/Delta/Hudi jars exist in this sandbox (SURVEY.md §0), so the
snapshot-table feature set the north rule requires (atomic multi-file
commit, snapshot ids, time travel, additive schema evolution with stable
column ids, partition/bucket file pruning — BASELINE.json:6,14) is
implemented here on plain Parquet + JSON metadata.  Atomicity is one
``os.replace`` of a version-hint file — the same trick Iceberg's
HadoopCatalog uses.  An operation reads one metadata version N
(``IceboxTable.pinned``), and its commit raises ``CommitConflict``
instead of writing ``v{N+1}`` when the hint moved past N.  Check and
swap are two steps: two processes that both check before either swaps
can still both swap (no create-if-absent or lock closes that window).

Layout::

    table_root/
      metadata/
        version-hint.text            # current metadata version N (atomic swap)
        v{N}.metadata.json           # schemas + snapshot log + current ids
        snap-{id}.manifest-list.json # per-bucket manifest pointers
        snap-{id}-b{b}.manifest.json # data-file list for bucket b
      data/
        snap-{id}/bucket={b}/*.parquet   # immutable data files, per commit

Manifests are sharded per bucket, exactly like Iceberg manifest lists.
A commit names the buckets it REPLACES (every stored file of theirs is
dropped) and the files it adds: a replaced bucket's manifest is never
read, a bucket that only gains files is read once and appended to, and
every other bucket carries by reference (same manifest file, no read),
so commit cost and ``files(buckets=...)`` reads are O(touched), not
O(table).
This is icebox format 2, the only layout read or written: every
manifest entry records its ``schema_id``, every manifest-list ref its
delta counts, every snapshot summary its ``cum_quarantined``.

Scale notes (100 TB / 1000 executors): driver metadata per operation is
O(touched buckets' files) — at 10^10 events with 256 MB files that is
~4x10^5 entries table-wide, and a MERGE touching k of B buckets reads
k/B of them.  Data-file paths are relative to table_root so the table
relocates.
"""

from __future__ import annotations

import copy
import json
import os
import time
import uuid
from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# schema model: ordered field list with stable column ids (Iceberg rule:
# ids are never reused, so additive evolution is unambiguous)
# ---------------------------------------------------------------------------

_TYPE_TO_SPARK = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}
_SPARK_TO_TYPE = {v.typeName(): k for k, v in _TYPE_TO_SPARK.items()}


def type_to_spark(t: str) -> T.DataType:
    """icebox type string → Spark type; ``array<elem>`` nests (embedding
    columns and other list payloads are first-class table columns)."""
    if t.startswith("array<") and t.endswith(">"):
        return T.ArrayType(type_to_spark(t[6:-1]))
    return _TYPE_TO_SPARK[t]


_TYPE_TO_ARROW = {
    "string": pa.string(),
    "int": pa.int32(),
    "long": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    # Spark's TimestampType holds microseconds
    "timestamp": pa.timestamp("us"),
    "date": pa.date32(),
    "binary": pa.binary(),
}


def type_to_arrow(t: str) -> pa.DataType:
    """icebox type string → the Arrow type the driver-side apply holds
    its values in (lake/merge.py)."""
    if t.startswith("array<") and t.endswith(">"):
        return pa.list_(type_to_arrow(t[6:-1]))
    return _TYPE_TO_ARROW[t]


def spark_to_type(dt: T.DataType) -> str:
    if isinstance(dt, T.ArrayType):
        return f"array<{spark_to_type(dt.elementType)}>"
    return _SPARK_TO_TYPE[dt.typeName()]


def fields_to_struct(fields: list[dict]) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], type_to_spark(f["type"]), f.get("nullable", True))
            for f in fields
        ]
    )


def struct_to_fields(struct: T.StructType, start_id: int = 1) -> list[dict]:
    out = []
    for i, f in enumerate(struct.fields):
        out.append(
            {
                "id": start_id + i,
                "name": f.name,
                "type": spark_to_type(f.dataType),
                "nullable": bool(f.nullable),
            }
        )
    return out


def commit_tag(path: str) -> str:
    """Commit group of a data file — the per-commit directory component
    of its (root-relative) path: ``data/<tag>/__bucket=b/...``."""
    parts = path.split("/")
    return parts[1] if len(parts) > 1 else path


def parse_ref_key(key: str) -> tuple[int, int]:
    """Manifest-list ref key → (spec_id, bucket).  Plain ``"3"`` keys
    (every pre-rescale table) are spec 0; post-rescale specs write
    ``"<spec>:<bucket>"``."""
    if ":" in key:
        s, b = key.split(":", 1)
        return int(s), int(b)
    return 0, int(key)


def ref_key(spec_id: int, bucket: int) -> str:
    return str(bucket) if spec_id == 0 else f"{spec_id}:{bucket}"


#: the one table format this code reads and writes
FORMAT_VERSION = 2


class CommitConflict(RuntimeError):
    """Another writer committed after this operation read the metadata;
    nothing of this commit became visible.  Rerun the operation."""


class Metadata(dict):
    """One parsed ``v{version}.metadata.json`` (IceboxTable.metadata)."""

    def __init__(self, version: int, fields: dict):
        super().__init__(fields)
        self.version = version


def _atomic_write_json(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


class IceboxTable:
    """Handle to one icebox table rooted at ``root``.

    ``branch`` binds the handle to a named branch (write-audit-publish):
    reads resolve to the branch head and commits advance the branch
    pointer instead of main — main stays untouched until
    ``publish_branch`` fast-forwards it (the Iceberg branch-ref
    analogue).  An unborn branch forks implicitly from the current main
    head on its first commit.  ``None`` (default) is main.  Each
    accessor of a live handle parses the current version (``pinned``)."""

    def __init__(self, root: str, branch: str | None = None):
        self.root = root
        self.branch = branch
        self.meta_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        self._hint = os.path.join(self.meta_dir, "version-hint.text")
        self._pin: Metadata | None = None

    def for_branch(self, branch: str | None) -> "IceboxTable":
        """The same table bound to ``branch`` (None = main), same pin."""
        t = IceboxTable(self.root, branch=branch)
        t._pin = self._pin
        return t

    # -- existence / creation ------------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(self._hint)

    @classmethod
    def create(
        cls,
        root: str,
        schema: T.StructType,
        *,
        num_buckets: int = 16,
        bucket_column: str = "conv_id",
        properties: dict | None = None,
    ) -> "IceboxTable":
        t = cls(root)
        if t.exists():
            raise FileExistsError(f"table already exists at {root}")
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        fields = struct_to_fields(schema)
        meta = {
            "format_version": FORMAT_VERSION,
            "table_uuid": uuid.uuid4().hex,
            "location": root,
            "properties": dict(properties or {}),
            "num_buckets": num_buckets,
            "bucket_column": bucket_column,
            "schemas": [{"schema_id": 0, "fields": fields}],
            "current_schema_id": 0,
            "last_column_id": max((f["id"] for f in fields), default=0),
            "snapshots": [],
            "current_snapshot_id": None,
            "last_snapshot_id": 0,
        }
        _atomic_write_json(os.path.join(t.meta_dir, "v1.metadata.json"), meta)
        _atomic_write_json(t._hint, {"version": 1})
        return t

    # -- metadata access -----------------------------------------------------

    def _version(self) -> int:
        with open(self._hint) as fh:
            return json.load(fh)["version"]

    def metadata(self) -> Metadata:
        """Parse the version the hint names now (on any handle)."""
        v = self._version()
        with open(os.path.join(self.meta_dir, f"v{v}.metadata.json")) as fh:
            meta = Metadata(v, json.load(fh))
        if meta.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"icebox table at {self.root} has format_version "
                f"{meta.get('format_version')!r}; only format "
                f"{FORMAT_VERSION} is readable — re-ingest it"
            )
        return meta

    def pinned(self) -> "IceboxTable":
        """A handle whose accessors all answer from ONE parse of the
        current version (self when already pinned) and whose commits are
        based on it.  An operation pins once and passes the handle down;
        the view never changes, also not by its own commit."""
        if self._pin is not None:
            return self
        t = IceboxTable(self.root, branch=self.branch)
        t._pin = self.metadata()
        return t

    def _meta(self) -> dict:
        return self.metadata() if self._pin is None else self._pin

    def _draft(self) -> Metadata:
        """The pin, copied for a mutator to edit and ``_swap_metadata``."""
        return copy.deepcopy(self._pin)

    def _check_base(self, version: int) -> None:
        if self._version() != version:
            raise CommitConflict(
                f"icebox table at {self.root} moved past metadata version "
                f"{version} after this operation read it; rerun it"
            )

    def _swap_metadata(self, meta: Metadata) -> None:
        """Commit ``meta``, an edited copy of version N, as version N+1:
        write ``v{N+1}.metadata.json``, then swap the version hint to it.
        The hint swap is the commit point — a crash before it leaves the
        table at version N with an unread orphan file.  Raises
        CommitConflict, writing nothing, when the hint no longer names N."""
        version = meta.version
        self._check_base(version)
        _atomic_write_json(
            os.path.join(self.meta_dir, f"v{version + 1}.metadata.json"), meta
        )
        _atomic_write_json(self._hint, {"version": version + 1})

    @property
    def num_buckets(self) -> int:
        return self._meta()["num_buckets"]

    @property
    def bucket_column(self) -> str:
        return self._meta()["bucket_column"]

    @property
    def schema_id(self) -> int:
        return self._meta()["current_schema_id"]

    def bucket_key_type(self) -> str | None:
        """icebox type of the bucket column in the current schema."""
        t = self.pinned()
        return next((f["type"] for f in t.schema_fields() if f["name"] == t.bucket_column), None)

    def bucket_specs(self) -> list[dict]:
        """Bucket-spec history ``[{spec_id, num_buckets}]`` (Iceberg
        partition-spec-evolution analogue), oldest first: the last is
        the current spec.  Pre-rescale tables have the implicit single
        spec 0."""
        meta = self._meta()
        return meta.get(
            "bucket_specs",
            [{"spec_id": 0, "num_buckets": meta["num_buckets"]}],
        )

    def covered_buckets(self, bucket: int, spec_id: int = 0) -> list[int]:
        """CURRENT-spec bucket ids a file (or manifest ref) of ``bucket``
        under spec ``spec_id`` may hold rows of.  Buckets are
        ``xxhash64(key) pmod n`` and a rescale multiplies n, so old
        bucket b covers its congruence class {b, b+n_old, ...} mod
        n_cur; a same-spec file covers just its own bucket."""
        t = self.pinned()
        cur_nb = int(t.num_buckets)
        nb = {s["spec_id"]: s["num_buckets"] for s in t.bucket_specs()}.get(int(spec_id), cur_nb)
        return list(range(int(bucket), cur_nb, nb)) if nb != cur_nb else [int(bucket)]

    def rescale_buckets(self, new_num_buckets: int) -> int:
        """Grow the bucket count (metadata-only commit; returns the new
        spec id).  ``new_num_buckets`` must be a strict integer multiple
        of the current count — that keeps every old spec's bucket a
        congruence class of the new one, so mixed-spec file pruning
        stays exact (covered_buckets) and old files migrate lazily: any
        copy-on-write touch or compaction of a descendant bucket rewrites
        the old-spec file under the current spec.  New writes use the
        new spec immediately; nothing is rewritten here.

        Shrinking is not supported — at 10^10 events the operational need
        is always more parallelism/pruning granularity, and growth keeps
        the congruence invariant one-directional."""
        t = self.pinned()
        meta = t._draft()
        cur = int(meta["num_buckets"])
        new = int(new_num_buckets)
        if new <= cur or new % cur != 0:
            raise ValueError(
                f"new_num_buckets must be a strict integer multiple of the "
                f"current count ({cur}), got {new}"
            )
        specs = t.bucket_specs()
        new_id = max(s["spec_id"] for s in specs) + 1
        specs = specs + [{"spec_id": new_id, "num_buckets": new}]
        meta["bucket_specs"] = specs
        meta["current_spec_id"] = new_id
        meta["num_buckets"] = new
        t._swap_metadata(meta)
        return new_id

    def schema_fields(self, schema_id: int | None = None) -> list[dict]:
        meta = self._meta()
        sid = meta["current_schema_id"] if schema_id is None else schema_id
        for s in meta["schemas"]:
            if s["schema_id"] == sid:
                return s["fields"]
        raise KeyError(f"no schema_id {sid}")

    def schema_struct(self, schema_id: int | None = None) -> T.StructType:
        return fields_to_struct(self.schema_fields(schema_id))

    def snapshots(self) -> list[dict]:
        return self._meta()["snapshots"]

    def head_id(self) -> int | None:
        """The snapshot id this handle's reads/commits are based on:
        the bound branch's head when a branch is bound AND born, else
        main (``current_snapshot_id`` — also the fork point an unborn
        branch commits on top of)."""
        meta = self._meta()
        if self.branch is not None:
            b = meta.get("branches", {}).get(self.branch)
            if b is not None:
                return b
        return meta["current_snapshot_id"]

    def current_snapshot(self) -> dict | None:
        t = self.pinned()
        sid = t.head_id()
        if sid is None:
            return None
        return t.snapshot(sid)

    def snapshot(self, snapshot_id: int) -> dict:
        for s in self.snapshots():
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(f"no snapshot {snapshot_id}")

    def snapshot_as_of(self, ts_ms: int) -> dict:
        """Newest snapshot committed at or before ``ts_ms`` (epoch
        millis) — as-of-timestamp time travel, resolved from the
        ``timestamp_ms`` every snapshot already records.  Raises
        KeyError when the table has no snapshot that old (e.g. the
        window was expired by retention)."""
        cands = [s for s in self.snapshots() if s["timestamp_ms"] <= ts_ms]
        if not cands:
            raise KeyError(
                f"no snapshot at or before {ts_ms} (earliest retained may "
                "have been expired)"
            )
        return cands[-1]

    # -- named refs (tags) ---------------------------------------------------

    def refs(self) -> dict:
        """Named snapshot refs ``{tag: snapshot_id}`` (Iceberg tag
        analogue).  Tagged snapshots are retention anchors:
        ``expire_snapshots`` never drops them."""
        return dict(self._meta().get("refs", {}))

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Create/move a named tag (metadata-only commit); ``None`` tags
        the current snapshot.  Returns the tagged snapshot id."""
        t = self.pinned()
        sid = t.head_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError("cannot tag an empty table (no snapshot)")
        t.snapshot(sid)  # KeyError if unknown
        meta = t._draft()
        meta.setdefault("refs", {})[name] = sid
        t._swap_metadata(meta)
        return sid

    def drop_tag(self, name: str) -> None:
        t = self.pinned()
        meta = t._draft()
        if name not in meta.get("refs", {}):
            raise KeyError(f"no tag {name!r}")
        del meta["refs"][name]
        t._swap_metadata(meta)

    # -- branches (write-audit-publish) --------------------------------------

    def branches(self) -> dict:
        """Named branch heads ``{branch: snapshot_id}``.  Branch heads
        (and their ancestry within the retention window) are retention
        anchors like tags."""
        return dict(self._meta().get("branches", {}))

    def resolve_ref(self, name: str) -> int:
        """Snapshot id for a named ref: tags first, then branch heads
        (read path for ``scan(ref=...)``)."""
        meta = self._meta()
        if name in meta.get("refs", {}):
            return meta["refs"][name]
        if name in meta.get("branches", {}):
            return meta["branches"][name]
        raise KeyError(f"no tag or branch {name!r}")

    def is_ancestor(self, ancestor_id: int | None, descendant_id: int) -> bool:
        """True iff ``ancestor_id`` lies on ``descendant_id``'s parent
        chain (None = the empty table, ancestor of everything).  Walks
        parent ids driver-side; tolerates expired intermediate snapshots
        by following recorded parent ids only while they resolve."""
        if ancestor_id is None:
            return True
        by_id = {s["snapshot_id"]: s for s in self.snapshots()}
        node: int | None = descendant_id
        while node is not None:
            if node == ancestor_id:
                return True
            s = by_id.get(node)
            node = s["parent_snapshot_id"] if s else None
        return False

    def publish_branch(self, name: str) -> int:
        """Fast-forward main to the branch head and drop the branch —
        the PUBLISH step of write-audit-publish.  Atomic: one metadata
        commit (single version-hint swap), so a crash any time before
        it leaves main byte-identically untouched and the branch ready
        to re-publish.  Refuses a non-fast-forward (main moved since the
        branch forked) — a concurrent main writer, not something to
        silently merge."""
        t = self.pinned()
        meta = t._draft()
        head = meta.get("branches", {}).get(name)
        if head is None:
            raise KeyError(f"no branch {name!r}")
        main = meta["current_snapshot_id"]
        # fast-forward proof: main unmoved since the recorded fork point
        # (robust to retention expiring intermediate branch snapshots),
        # else provable ancestry on the retained parent chain
        forks = meta.get("branch_forks", {})
        unmoved = name in forks and forks[name] == main
        if not (unmoved or t.is_ancestor(main, head)):
            raise ValueError(
                f"branch {name!r} is not a fast-forward of main "
                f"(main={main}, branch head={head})"
            )
        meta["current_snapshot_id"] = head
        del meta["branches"][name]
        meta.get("branch_forks", {}).pop(name, None)
        t._swap_metadata(meta)
        return head

    def drop_branch(self, name: str) -> None:
        """Abandon a branch (metadata-only; its snapshots age out via
        normal retention once unreferenced)."""
        t = self.pinned()
        meta = t._draft()
        if name not in meta.get("branches", {}):
            raise KeyError(f"no branch {name!r}")
        del meta["branches"][name]
        meta.get("branch_forks", {}).pop(name, None)
        t._swap_metadata(meta)

    def manifest_list(self, snapshot_id: int) -> dict:
        """Per-bucket manifest pointers of a snapshot:
        ``{ref_key: {manifest, files, rows, delta_files, delta_commits}}``
        (see ref_key)."""
        p = os.path.join(self.meta_dir, f"snap-{snapshot_id}.manifest-list.json")
        with open(p) as fh:
            return json.load(fh)["buckets"]

    def _read_bucket_manifest(self, fname: str) -> list[dict]:
        with open(os.path.join(self.meta_dir, fname)) as fh:
            return json.load(fh)["files"]

    def files(
        self, snapshot_id: int | None = None, buckets: list[int] | None = None
    ) -> list[dict]:
        """Data-file entries ``{path, bucket, rows, schema_id[, spec_id,
        delta, key_min, key_max]}`` for a snapshot, optionally pruned to
        a bucket subset (CURRENT-spec bucket ids).  This reads ONLY the requested
        buckets' manifests — metadata IO is O(touched), the 100-TB
        requirement.  After a bucket rescale, refs written under
        an older spec are included when their congruence class overlaps
        the requested buckets (covered_buckets) — pruning stays exact
        across mixed specs; callers get a SUPERSET of the requested
        buckets' rows when an old-spec file also holds sibling-bucket
        rows (scan/lookup filter rows; merge/compact migrate them)."""
        t = self.pinned()
        sid = t.head_id() if snapshot_id is None else snapshot_id
        if sid is None:
            return []
        refs = t.manifest_list(sid)
        keys = refs if buckets is None else t._covering_refs(refs, buckets)
        out: list[dict] = []
        for key in sorted(keys, key=parse_ref_key):
            out += t._read_bucket_manifest(refs[key]["manifest"])
        return out

    def _covering_refs(self, refs: dict[str, dict], buckets: Iterable[int]) -> set[str]:
        """Keys of the manifest-list ``refs`` whose files may hold rows
        of the CURRENT-spec ``buckets`` (covered_buckets)."""
        bset = {int(b) for b in buckets}
        out: set[str] = set()
        for key in refs:
            s, b = parse_ref_key(key)
            if not bset.isdisjoint(self.covered_buckets(b, s)):
                out.add(key)
        return out

    def file_paths(self, snapshot_id: int | None = None, buckets=None) -> list[str]:
        return [os.path.join(self.root, e["path"]) for e in self.files(snapshot_id, buckets)]

    # -- commits ---------------------------------------------------------------

    def commit(
        self,
        *,
        added_files: list[dict],
        replaced_buckets: Iterable[int] = (),
        summary: dict | None = None,
        operation: str = "append",
    ) -> int:
        """Atomically produce the next snapshot.

        ``added_files``: ``{path (rel to root), bucket, rows, schema_id}``
        entries (lake/write.py::write_data_files).
        ``replaced_buckets``: CURRENT-spec buckets whose stored files the
        commit drops in full — exactly the files ``files(buckets=...)``
        returns for them, so an old-spec file covering one of them is
        dropped too (copy-on-write rewrite, fold, compaction, overwrite).
        Their manifests are not read; the files added to them form their
        new manifests.
        Crash-safety: everything is written under non-current names
        first; the single ``os.replace`` of the version hint is the
        commit point.  A crash before it leaves the table at the old
        snapshot with orphan files (harmless, rewritten on retry).  The
        base is checked before the manifests too: a moved base may have
        used their snapshot id already.
        """
        t = self.pinned()
        meta = t._draft()
        t._check_base(meta.version)
        prev_id = t.head_id()
        new_id = meta["last_snapshot_id"] + 1
        total_files, total_rows = t._write_manifests(
            new_id, prev_id, added_files, replaced_buckets
        )

        summary = dict(summary or {})
        # running quarantine total along the parent chain (round-5
        # ADVICE): the HEAD snapshot alone carries the write-audit
        # gate's input, so retention expiring intermediate branch
        # snapshots can no longer truncate the audit sum.  Maintenance
        # commits (fold/compact) carry the parent's lineage summary
        # forward verbatim — their copy must not be re-counted.
        prev_cum = 0
        if prev_id is not None:
            prev_snap = next(
                s for s in meta["snapshots"] if s["snapshot_id"] == prev_id
            )
            prev_cum = prev_snap["summary"]["cum_quarantined"]
        own_q = 0
        if "maintenance" not in summary:
            own_q = int((summary.get("lineage") or {}).get("quarantined", 0) or 0)
        summary["cum_quarantined"] = prev_cum + own_q
        snap = {
            "snapshot_id": new_id,
            "parent_snapshot_id": prev_id,
            "schema_id": meta["current_schema_id"],
            "operation": operation,
            "timestamp_ms": int(time.time() * 1000),
            "summary": summary,
            "total_files": total_files,
            "total_rows": total_rows,
        }
        meta["snapshots"].append(snap)
        if self.branch is not None:
            # branch commit: only the branch pointer moves — main (and
            # every reader of it) cannot observe unpublished work.  The
            # first commit records the FORK POINT (main's head at birth)
            # so publish can prove fast-forward even after retention
            # expired intermediate branch snapshots.
            if self.branch not in meta.setdefault("branches", {}):
                meta.setdefault("branch_forks", {})[self.branch] = meta[
                    "current_snapshot_id"
                ]
            meta["branches"][self.branch] = new_id
        else:
            meta["current_snapshot_id"] = new_id
        meta["last_snapshot_id"] = new_id
        t._swap_metadata(meta)
        return new_id

    def _write_manifests(
        self,
        new_id: int,
        prev_id: int | None,
        added_files: list[dict],
        replaced_buckets: Iterable[int],
    ) -> tuple[int, int]:
        """Write the manifest list and one manifest per (spec, bucket)
        ref that gains files; returns (total_files, total_rows).

        A ref covering a replaced bucket (``_covering_refs``, the rule
        ``files()`` prunes with) is dropped unread, or rewritten with
        its added files only.  A ref that only gains files is read once
        and appended to; every other ref carries its previous manifest
        file unread — commit cost stays O(touched refs)."""
        added_by_ref: dict[tuple[int, int], list[dict]] = {}
        for e in added_files:
            added_by_ref.setdefault(
                (int(e.get("spec_id", 0)), int(e["bucket"])), []
            ).append(e)

        prev_list: dict[str, dict] = {}
        if prev_id is not None:
            prev_list = self.manifest_list(prev_id)
        replaced = self._covering_refs(prev_list, replaced_buckets)

        new_list: dict[str, dict] = {
            k: dict(ref)
            for k, ref in prev_list.items()
            if k not in replaced and parse_ref_key(k) not in added_by_ref
        }
        for (s, b), added in sorted(added_by_ref.items()):
            key = ref_key(s, b)
            entries = added
            if key in prev_list and key not in replaced:
                entries = self._read_bucket_manifest(prev_list[key]["manifest"]) + added
            fname = (
                f"snap-{new_id}-b{b}.manifest.json"
                if s == 0
                else f"snap-{new_id}-s{s}b{b}.manifest.json"
            )
            _atomic_write_json(
                os.path.join(self.meta_dir, fname),
                {"snapshot_id": new_id, "bucket": b, "spec_id": s, "files": entries},
            )
            new_list[key] = {
                "manifest": fname,
                "files": len(entries),
                "rows": sum(e["rows"] for e in entries),
                # metadata-only fold-policy inputs (merge-on-read): one
                # delta COMMIT may fan out into several files per bucket
                # (write salt), so the policy counts commits, not files
                "delta_files": sum(1 for e in entries if e.get("delta")),
                "delta_commits": len(
                    {commit_tag(e["path"]) for e in entries if e.get("delta")}
                ),
            }
        _atomic_write_json(
            os.path.join(self.meta_dir, f"snap-{new_id}.manifest-list.json"),
            {"snapshot_id": new_id, "buckets": new_list},
        )
        total_files = sum(r["files"] for r in new_list.values())
        total_rows = sum(r["rows"] for r in new_list.values())
        return total_files, total_rows

    #: widenings that preserve every value exactly (Iceberg's promotion
    #: rules for primitives, minus decimal which icebox doesn't store)
    _WIDEN_OK = {("int", "long"), ("float", "double")}

    #: columns the engine's identity/ordering contract depends on — the
    #: CDC key, the bucket column, and the meta block can't be renamed
    #: or retyped without breaking LWW resolution and bucket pruning
    def _protected_cols(self) -> set[str]:
        return {
            self.bucket_column,
            "conv_id",
            "turn_idx",
            "_ts",
            "_lsn",
            "_src_part",
            "_op",
        }

    def rename_map(self) -> dict[str, str]:
        """``{old_name: current_name}`` for every column that was ever
        renamed, derived from the schema-era history by COLUMN ID.  An
        old name that was later reused by a different (fresh-id) column
        is excluded — the current binding of that name wins.  The ingest
        path maps incoming changelog columns through this so a rename
        does not split data across two half-populated columns
        (schema.py::align_renames)."""
        t = self.pinned()
        cur = {f["id"]: f["name"] for f in t.schema_fields()}
        cur_names = set(cur.values())
        out: dict[str, str] = {}
        for s in t._pin["schemas"]:
            for f in s["fields"]:
                name = cur.get(f["id"])
                if (
                    name is not None
                    and f["name"] != name
                    and f["name"] not in cur_names
                ):
                    out[f["name"]] = name
        return out

    def _commit_schema(self, new_fields: list[dict]) -> int:
        """Append a schema (metadata-only commit from this pinned
        handle), return its id.  Every manifest entry records the schema
        era it was written under, so the read path aligns old files by
        column id without rewriting any manifest here."""
        meta = self._draft()
        schema_id = max(s["schema_id"] for s in meta["schemas"]) + 1
        meta["schemas"].append({"schema_id": schema_id, "fields": new_fields})
        meta["current_schema_id"] = schema_id
        meta["last_column_id"] = max(
            [f["id"] for f in new_fields] + [meta["last_column_id"]]
        )
        self._swap_metadata(meta)
        return schema_id

    def rename_column(self, old: str, new: str) -> int:
        """Rename a payload column (metadata-only; column id unchanged —
        the Iceberg identity rule).  Files written under older schemas
        keep their physical name; the read path re-aligns them by id
        (lake/read.py).  Key/bucket/meta columns are protected."""
        t = self.pinned()
        if old in t._protected_cols():
            raise ValueError(f"cannot rename protected column {old!r}")
        fields = [dict(f) for f in t.schema_fields()]
        names = {f["name"] for f in fields}
        if old not in names:
            raise KeyError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        return t._commit_schema(fields)

    def widen_column(self, name: str, new_type: str) -> int:
        """Widen a payload column's type (int→long, float→double; the
        exact-value promotions).  Column id unchanged; old files read
        back through a cast (lake/read.py)."""
        t = self.pinned()
        if name in t._protected_cols():
            raise ValueError(f"cannot retype protected column {name!r}")
        fields = [dict(f) for f in t.schema_fields()]
        for f in fields:
            if f["name"] == name:
                if f["type"] == new_type:
                    return t.schema_id
                if (f["type"], new_type) not in self._WIDEN_OK:
                    raise ValueError(
                        f"cannot widen {name!r} {f['type']} → {new_type}; "
                        f"allowed: {sorted(self._WIDEN_OK)}"
                    )
                f["type"] = new_type
                return t._commit_schema(fields)
        raise KeyError(f"no column {name!r}")

    def drop_column(self, name: str) -> int:
        """Drop a payload column (metadata-only — data files keep the
        bytes, reads exclude the id).  Re-adding the same NAME later
        mints a FRESH id, so old values can never resurrect (ids are
        never reused — the rule that makes rename/drop unambiguous)."""
        t = self.pinned()
        if name in t._protected_cols():
            raise ValueError(f"cannot drop protected column {name!r}")
        fields = [dict(f) for f in t.schema_fields()]
        kept = [f for f in fields if f["name"] != name]
        if len(kept) == len(fields):
            raise KeyError(f"no column {name!r}")
        return t._commit_schema(kept)

    def evolve_schema(self, new_fields_spark: T.StructType) -> int:
        """Additive schema evolution (metadata-only commit) — new columns
        get fresh column ids, ids are never reused (Iceberg rule).
        Idempotent: columns already present are skipped; returns the
        current schema_id."""
        t = self.pinned()
        meta = t._pin
        cur = t.schema_fields()
        have = {f["name"] for f in cur}
        next_id = meta["last_column_id"] + 1
        added = []
        for f in new_fields_spark.fields:
            if f.name in have:
                continue
            added.append(
                {
                    "id": next_id,
                    "name": f.name,
                    "type": spark_to_type(f.dataType),
                    "nullable": True,  # additive columns must be nullable (old files backfill NULL)
                }
            )
            next_id += 1
        if not added:
            return meta["current_schema_id"]
        # keep engine meta columns (leading "_") last: payload evolves,
        # meta stays the trailing block
        payload = [f for f in cur if not f["name"].startswith("_")]
        metacols = [f for f in cur if f["name"].startswith("_")]
        return t._commit_schema(payload + added + metacols)
