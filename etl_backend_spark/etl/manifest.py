"""The engine's mutable-table format: Delta/Iceberg-style file-level
commits over plain parquet.

Layout:
    root/<table>/data/b-<uuid>/*.parquet        immutable data files
    root/<table>/manifest/m-<uuid>.json         file list + per-file stats
    root/<table>/_CURRENT                       live manifest id (atomic swap)

A manifest entry records, per data file: path, row count, min/max of the
configured stats columns, optionally a bloom, and optionally a deletion
vector (DV): ``entry["dv"]``, a base64 bitmap of ceil(rows/8) bytes whose
bit i marks row i deleted (the bloom's bit order). Mutations operate at
FILE granularity:

- ``append``      → write new files, commit = old list + new entries.
- ``delete_dv``   → the one DELETE, merge-on-read: set the matching rows'
                    bits in their entries' DVs, scanning only files whose
                    [min,max] interval can hold them; no data file is
                    rewritten.
- ``upsert``      → append the incoming rows and set the DV bits of the
                    rows they replace, in one commit; no existing file is
                    rewritten.
- ``compact``     → the one rewrite: bin-pack the small files and every
                    entry with a DV into target-size files.
- readers         → ``read``, ``read_pruned`` and ``read_pruned_bloom``
                    (the last two skip files by stats or blooms) read the
                    chosen entries through ``_read``, whose one filter
                    drops the rows their DVs mark.

A DV lives in the entry it deletes from, so it is committed, restored,
cloned and vacuumed with that entry. Every commit is a new manifest +
atomic pointer swap; old manifests remain readable (time travel) until
vacuumed.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import time
import uuid

from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _bloom_pos(col: str, i: int, m: int):
    """Spark-side bloom probe position i for a column value: first 8 hex
    chars of md5(f"{i}:{value}") mod m — mirrored byte-for-byte by
    ``bloom_positions`` below."""
    s = F.concat(F.lit(f"{i}:"), F.col(col).cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long") % m


def bloom_positions(value, k: int, m: int) -> list[int]:
    """Python twin of ``_bloom_pos`` for the probe side."""
    return [
        int(hashlib.md5(f"{i}:{value}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


class CommitConflict(RuntimeError):
    """Another writer committed between this writer's snapshot read and its
    pointer swap; re-read the live manifest and retry the mutation."""


class ManifestTable:
    #: bloom sizing: 8192 bits / 4 probes ≈ 1.2% false-positive at ~850
    #: distinct values per file; stored packed (1 KiB base64) per file
    BLOOM_BITS = 8192
    BLOOM_K = 4

    def __init__(self, spark: SparkSession, root: str, name: str,
                 stats_cols: list[str], bloom_col: str | None = None,
                 bloom_bits: int | None = None):
        self.spark = spark
        self.dir = os.path.join(root, name)
        self.data_dir = os.path.join(self.dir, "data")
        self.manifest_dir = os.path.join(self.dir, "manifest")
        self.stats_cols = stats_cols
        self.bloom_col = bloom_col
        if bloom_bits is not None:
            # size to the expected distinct keys PER FILE: a bloom whose
            # fill ratio approaches 1 hits on every probe and prunes
            # nothing (observed: 19k keys/file saturating 8192 bits at the
            # sf1 decade). ~10 bits/key keeps fpp ~1% at k=4.
            self.BLOOM_BITS = bloom_bits

    # ------------------------------------------------------------ plumbing

    def _pointer(self) -> str:
        return os.path.join(self.dir, "_CURRENT")

    def _live_id(self) -> str:
        with open(self._pointer()) as f:
            return f.read().strip()

    def _manifest_at(self, mid: str) -> dict:
        with open(os.path.join(self.manifest_dir, mid)) as f:
            return json.load(f)

    def _snapshot(self) -> tuple[str, dict]:
        """(manifest id, manifest) from ONE pointer read — every mutation
        must derive both its entry list and its CAS parent from the same
        snapshot, or a commit landing between two separate pointer reads
        slips past the conflict check (lost update)."""
        mid = self._live_id()
        return mid, self._manifest_at(mid)

    def _live_manifest(self) -> dict:
        return self._snapshot()[1]

    def _acquire_lock(self, lock: str, timeout: float = 5.0) -> int:
        """Serialize the check-and-swap with an OS lock (``flock``) on a
        persistent lock file. The kernel releases the lock when the holder's
        fd closes — including on crash — so there is no stale-lock state to
        reclaim. (The previous remove-if-older-than scheme had a TOCTOU: a
        fresh holder could acquire between the staleness stat and the
        unlink, the unlink then deleted the NEW holder's lock, and two
        committers ran the CAS concurrently — a silent lost update.)

        The lock file itself is never unlinked: remove-after-release lets a
        third writer recreate the path as a NEW inode while a second writer
        still holds an fd to the old one, and the two would lock different
        inodes. One immortal empty file per table is the price of
        correctness. Local-fs mechanism only; an object-store deployment
        would use conditional PUT (if-match) on the pointer instead."""
        import fcntl

        fd = os.open(lock, os.O_CREAT | os.O_WRONLY)
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                return fd
            except BlockingIOError:
                if time.monotonic() >= deadline:
                    os.close(fd)
                    raise CommitConflict(
                        f"commit lock {lock} held past {timeout}s"
                    ) from None
                time.sleep(0.05)

    def _commit(self, entries: list[dict], parent: str | None,
                txn: str | None = None,
                schema_json: str | None = None) -> None:
        """Atomic pointer swap with optimistic concurrency: `parent` is the
        manifest id this commit was derived from (None = table creation).
        An OS ``flock`` on a persistent per-table lock file
        (``_acquire_lock``) serializes the check-and-swap, and the swap
        fails with CommitConflict if _CURRENT no longer points at `parent`
        — the classic lost-update (two writers both derived from the same
        snapshot; the second must re-read and retry).

        `txn` (optional) is an idempotence token recorded in the manifest;
        the committed manifest carries the union of all ancestor tokens so
        ``append_once`` can test replay membership in O(1)."""
        mid = f"m-{uuid.uuid4().hex}.json"
        # ancestor tokens come from the PARENT manifest, not the live
        # pointer — the pointer may already have moved past parent, and the
        # CAS below will reject this commit anyway in that case
        pm = self._manifest_at(parent) if parent else {}
        txns = dict(pm.get("txns", {}))
        if txn is not None:
            txns[txn] = mid
        # per-commit schema: evolution commits pass the new one; every other
        # commit inherits the parent's, so read_at() can always reconstruct
        # the column set AS OF that snapshot
        if schema_json is None:
            schema_json = pm.get("schema")
        mpath = os.path.join(self.manifest_dir, mid)
        with open(mpath, "w") as f:
            json.dump(
                {"entries": entries, "parent": parent, "txns": txns,
                 "schema": schema_json},
                f,
            )
        lock = self._pointer() + ".lock"
        try:
            fd = self._acquire_lock(lock)
        except CommitConflict:
            os.remove(mpath)  # never committed — don't orphan the manifest
            raise
        try:
            live = self._live_id() if os.path.exists(self._pointer()) else None
            if live != parent:
                os.remove(mpath)
                raise CommitConflict(
                    f"_CURRENT moved from {parent!r} to {live!r} during commit"
                )
            tmp = self._pointer() + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(mid)
            os.replace(tmp, self._pointer())
        finally:
            os.close(fd)  # releases the flock; the lock file persists

    def _write_files(self, df: DataFrame) -> list[dict]:
        """Write df as data files and return manifest entries with stats.

        Stats come from ONE Spark job over the whole batch directory grouped
        by ``_metadata.file_path`` — not a per-file read/agg/collect loop,
        which at scale (thousands of files per commit) is a driver-side
        bottleneck of N sequential jobs."""
        batch = f"b-{uuid.uuid4().hex}"
        out = os.path.join(self.data_dir, batch)
        df.write.mode("errorifexists").parquet(out)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in self.stats_cols:
            aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
        if self.bloom_col:
            # bloom positions ride the SAME stats job: md5-derived (so the
            # probe side can recompute them in pure Python — no Spark round
            # trip per lookup), one collect_set per probe index, each
            # bounded by min(rows, BLOOM_BITS) ints per file
            for i in range(self.BLOOM_K):
                aggs.append(
                    F.collect_set(
                        _bloom_pos(self.bloom_col, i, self.BLOOM_BITS)
                    ).alias(f"__bloom_{i}")
                )
        rows = (
            # explicit schema: an EMPTY df writes a directory with no part
            # files, where schema inference (plain read.parquet) would fail
            self.spark.read.schema(df.schema).parquet(out)
            .groupBy(F.col("_metadata.file_path").alias("__path"))
            .agg(*aggs)
            .collect()
        )
        entries = []
        for row in rows:
            r = row.asDict()
            entries.append({
                # unquote: _metadata.file_path is a URI, so spaces/% in the
                # table root arrive percent-encoded
                "path": unquote(urlparse(r["__path"]).path),
                "rows": r["__n"],
                "stats": {
                    c: [r[f"min_{c}"], r[f"max_{c}"]] for c in self.stats_cols
                },
            })
            if self.bloom_col:
                bits = bytearray(self.BLOOM_BITS // 8)
                for i in range(self.BLOOM_K):
                    for pos in r[f"__bloom_{i}"]:
                        bits[pos // 8] |= 1 << (pos % 8)
                entries[-1]["bloom"] = {
                    "col": self.bloom_col,
                    # k is recorded per entry so a reader probes with the
                    # geometry the file was WRITTEN with (m is recovered
                    # from the bit-array length); a handle opened with
                    # different BLOOM_BITS/BLOOM_K must not change how
                    # existing entries are probed — a mod-wrong-m miss
                    # would silently prune files that DO contain the value
                    "k": self.BLOOM_K,
                    "bits": base64.b64encode(bytes(bits)).decode(),
                }
        return sorted(entries, key=lambda e: e["path"])

    def _discard_batches(self, entries: list[dict]) -> None:
        """Remove the batch directories behind freshly-written entries whose
        commit lost the CAS — without this every CommitConflict retry leaks
        a full batch of parquet into data_dir (recurring under the
        stream_into_manifest retry loop) until a vacuum runs."""
        for d in {os.path.dirname(e["path"]) for e in entries}:
            # only ever a b-<uuid> dir this writer just created
            shutil.rmtree(d, ignore_errors=True)

    def _commit_or_discard(self, entries: list[dict], new: list[dict],
                           parent: str | None, txn: str | None = None,
                           schema_json: str | None = None) -> None:
        """_commit, deleting this writer's just-written data files ``new``
        if the CAS loses (the retry rewrites them from the caller's
        inputs)."""
        try:
            self._commit(entries, parent=parent, txn=txn,
                         schema_json=schema_json)
        except CommitConflict:
            self._discard_batches(new)
            raise

    # ------------------------------------------------------------- surface

    def create(self, df: DataFrame) -> None:
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.manifest_dir, exist_ok=True)
        self._commit(self._write_files(df), parent=None,
                     schema_json=df.schema.json())

    @staticmethod
    def _schema_of(manifest: dict) -> StructType:
        """Declared schema AS OF a manifest. Every commit records one:
        ``create`` sets it, ``_commit`` inherits or evolves it, and
        ``restore``/``clone_shallow`` copy it — so an all-files-deleted
        snapshot stays readable with its columns."""
        return StructType.fromJson(json.loads(manifest["schema"]))

    def _read(self, manifest: dict, entries: list[dict]) -> DataFrame:
        """The one read path: ``entries`` (chosen from ``manifest``) read
        with the schema ``manifest`` declares, minus the rows their
        deletion vectors mark; an empty frame of that schema when no entry
        is chosen. The declared schema is a superset for files written
        before an ADD COLUMN; parquet null-fills the missing columns (the
        read half of additive schema evolution)."""
        schema = self._schema_of(manifest)
        if not entries:
            return self.spark.createDataFrame([], schema)
        df = self.spark.read.schema(schema).parquet(*[e["path"] for e in entries])
        return self._apply_dvs(df, entries)

    @staticmethod
    def _disjoint(entry: dict, col: str, lo, hi) -> bool:
        """True iff ``entry``'s [min, max] stats for ``col`` cannot meet
        [lo, hi] (None bounds are open; all-NULL stats never prune)."""
        mn, mx = entry["stats"][col]
        return (lo is not None and mx is not None and mx < lo) or (
            hi is not None and mn is not None and mn > hi
        )

    # Lossless numeric widenings accepted from a batch column INTO the live
    # type (batch simpleString -> allowed live simpleStrings). Anything not
    # here — narrowing, float->int, string<->numeric, nested drift — is a
    # type CHANGE and is rejected at append time. int->float and
    # bigint->double are deliberately absent (lossy above 2^24 / 2^53).
    _WIDENS = {
        "tinyint": {"smallint", "int", "bigint", "float", "double"},
        "smallint": {"int", "bigint", "float", "double"},
        "int": {"bigint", "double"},
        "float": {"double"},
        "void": None,  # all-NULL literal column: castable to any live type
    }

    def _align_to_live(self, df: DataFrame, manifest: dict,
                       evolve: bool) -> tuple[DataFrame, str | None]:
        """Delta-style schema handling shared by every write path (append,
        append_once, upsert): a batch MISSING live columns is always
        accepted (null-filled — a pre-evolution producer keeps working
        after someone else ran ADD COLUMN); a batch with EXTRA columns
        needs ``evolve=True``, which appends them to the live schema and
        returns the widened schema json so it rides the SAME commit.
        Without evolve, extra columns are rejected loudly — silent column
        drift is how data lakes rot. A batch column sharing a live name
        with a DIFFERENT type is cast up when losslessly widenable
        (``_WIDENS``) and rejected loudly otherwise — the mismatch must
        fail at write time, not as a parquet conversion error (or silent
        miscast) on some later read with the declared live schema."""
        live = self._schema_of(manifest)
        live_names = {f.name for f in live.fields}
        batch_fields = {f.name: f for f in df.schema.fields}
        extra = [f for f in df.schema.fields if f.name not in live_names]
        if extra and not evolve:
            raise ValueError(
                f"append schema mismatch: batch has extra columns "
                f"{sorted(f.name for f in extra)}; pass evolve=True "
                "for additive ADD COLUMN evolution"
            )
        drift = []
        for f in live.fields:
            b = batch_fields.get(f.name)
            if b is None or b.dataType == f.dataType:
                continue
            bt = b.dataType.simpleString()
            widens = self._WIDENS.get(bt)
            if bt == "void" or (widens and f.dataType.simpleString() in widens):
                continue  # lossless upcast handled in the projection below
            drift.append(f"{f.name}: batch {bt} vs live "
                         f"{f.dataType.simpleString()}")
        if drift:
            raise ValueError(
                "append type mismatch (type evolution is never merged): "
                + "; ".join(drift)
            )
        target = StructType(list(live.fields) + extra)
        needs_cast = any(
            f.name in batch_fields
            and batch_fields[f.name].dataType != f.dataType
            for f in target.fields
        )
        if {f.name for f in df.schema.fields} != {
            f.name for f in target.fields
        } or extra or needs_cast:
            df = df.select(*[
                (
                    F.col(f.name).cast(f.dataType).alias(f.name)
                    if f.name in batch_fields
                    else F.lit(None).cast(f.dataType).alias(f.name)
                )
                for f in target.fields
            ])
        return df, (target.json() if extra else None)

    def append(self, df: DataFrame, evolve: bool = False) -> None:
        """Append a batch with Delta-style schema handling (see
        ``_align_to_live``); past snapshots keep their own column set
        (read_at reads with the schema recorded in THAT manifest)."""
        parent, manifest = self._snapshot()
        df, schema_json = self._align_to_live(df, manifest, evolve)
        new = self._write_files(df)
        self._commit_or_discard(
            manifest["entries"] + new, new, parent=parent,
            schema_json=schema_json,
        )

    def append_once(self, df: DataFrame, txn: str,
                    evolve: bool = False) -> bool:
        """Transactionally-idempotent append (the Delta txn-id pattern):
        the commit records `txn`, and a replay with a token already present
        in the snapshot's ancestor set is an exact no-op BEFORE any files
        are written — unlike marker-file schemes the dedup record and the
        data commit are the same atomic pointer swap, so there is no crash
        window between them. The membership check, entry list, and CAS
        parent all come from ONE snapshot: if another commit (including a
        concurrent replica of this very txn) lands after the snapshot, the
        CAS raises CommitConflict and the caller re-checks on retry.
        Returns True iff the batch was applied. The natural sink for
        streaming foreachBatch (see chat_pipeline.stream_into_manifest)."""
        parent, manifest = self._snapshot()
        if txn in manifest.get("txns", {}):
            return False  # replayed batch — already committed
        # same alignment contract as append (a streaming producer that
        # missed an ADD COLUMN keeps working; drift is still rejected
        # before any file lands)
        df, schema_json = self._align_to_live(df, manifest, evolve=evolve)
        new = self._write_files(df)
        self._commit_or_discard(
            manifest["entries"] + new, new, parent=parent, txn=txn,
            schema_json=schema_json,
        )
        return True

    def files(self) -> list[dict]:
        return self._live_manifest()["entries"]

    def read(self) -> DataFrame:
        manifest = self._live_manifest()
        return self._read(manifest, manifest["entries"])

    # ------------------------------------------------- deletion vectors

    @staticmethod
    def _apply_dvs(df: DataFrame, entries: list[dict]) -> DataFrame:
        """Merge-on-read: one filter drops the rows that ``entries``'
        deletion vectors mark. Each row looks its part file's bitmap up in
        a map literal (one binary per DV'd entry) and tests the bit at its
        ``_metadata.row_index``; no join, no file listing. With no DV the
        plan is untouched."""
        pairs = [x for e in entries if "dv" in e
                 for x in (F.lit(os.path.basename(e["path"])),
                           F.lit(base64.b64decode(e["dv"])))]
        if not pairs:
            return df
        # file_name, not file_path: the path is a percent-encoded URI, and
        # part names are unique (each carries its write job's UUID)
        bitmap = F.create_map(*pairs)[F.col("_metadata.file_name")]
        row = F.col("_metadata.row_index")
        byte = bitmap.substr(F.shiftright(row, 3).cast("int") + 1, F.lit(1))
        bit = F.bit_get(F.conv(F.hex(byte), 16, 10).cast("int"),
                        row.bitwiseAND(7).cast("int"))
        # a file without a DV looks up NULL: its rows stay
        return df.filter(F.coalesce(bit, F.lit(0)) == 0)

    def _mark(self, manifest: dict, entries: list[dict],
              select) -> tuple[list[dict], int]:
        """The one row-removal step: one job collects the (part file,
        row_index) positions of the rows of ``entries`` that ``select``
        keeps, and their bits are ORed into copies of the entries' DVs.
        Returns ``manifest``'s entry list with those copies, and the
        number of bits that flipped (a row already deleted flips none).
        Positions come off the RAW files, projected before ``select`` (a
        join hides ``_metadata``)."""
        if not entries:
            return manifest["entries"], 0
        raw = self.spark.read.schema(self._schema_of(manifest)).parquet(
            *[e["path"] for e in entries]
        )
        positions: dict[str, list[int]] = {}
        for name, i in select(
            raw.withColumn("__dv_name", F.col("_metadata.file_name"))
            .withColumn("__dv_row", F.col("_metadata.row_index"))
        ).select("__dv_name", "__dv_row").collect():
            positions.setdefault(name, []).append(i)
        out, n = [], 0
        for e in manifest["entries"]:
            rows = positions.get(os.path.basename(e["path"]))
            if rows:
                bits = bytearray(base64.b64decode(e["dv"]) if "dv" in e
                                 else (e["rows"] + 7) // 8)
                for i in rows:
                    if not bits[i // 8] & (1 << (i % 8)):
                        bits[i // 8] |= 1 << (i % 8)
                        n += 1
                e = dict(e, dv=base64.b64encode(bytes(bits)).decode())
            out.append(e)
        return out, n

    def delete_dv(self, where: Column, col: str | None = None,
                  lo=None, hi=None) -> dict:
        """The one DELETE, merge-on-read (Delta/Iceberg deletion-vector
        pattern): set the matching rows' bits in their entries' DVs and
        commit the updated entries; no data file is rewritten, so a delete
        touching one row per multi-GB file commits a bitmap. With ``col``,
        only entries whose stats for ``col`` meet [lo, hi] are scanned (the
        caller's promise that no matching row lies outside); without, every
        entry is. Readers filter the marked rows out by
        (_metadata.file_name, _metadata.row_index); ``compact`` folds them
        back into data files. SQL DELETE semantics: NULL predicates retain
        the row. Returns {'marked': n}; with n == 0 nothing is committed."""
        parent, manifest = self._snapshot()
        entries, n = self._mark(
            manifest,
            [e for e in manifest["entries"]
             if col is None or not self._disjoint(e, col, lo, hi)],
            lambda df: df.filter(F.coalesce(where, F.lit(False))),
        )
        if n:
            self._commit(entries, parent=parent)
        return {"marked": n}

    def compact_dv(self) -> dict:
        """Fold the live DVs alone: ``compact`` with no file counted small
        rewrites exactly the files a DV names, each into one new file."""
        return self.compact(target_rows=0)

    def read_pruned(self, col: str, lo=None, hi=None) -> tuple[DataFrame, int]:
        """Manifest-stats pruning: load only files whose [min,max] for `col`
        intersects [lo, hi]. Returns (df, n_files_skipped). The residual
        filter still applies Spark-side; the win is files never opened."""
        manifest = self._live_manifest()
        entries = manifest["entries"]
        keep = [e for e in entries if not self._disjoint(e, col, lo, hi)]
        return self._read(manifest, keep), len(entries) - len(keep)

    def read_pruned_bloom(self, value) -> tuple[DataFrame, int]:
        """Point-lookup file skipping by the per-file BLOOM, the prune that
        still works when the table is UNSORTED on the key and every file's
        [min, max] interval spans the whole domain (where zone maps skip
        nothing). A bloom miss is definitive — the value is NOT in the
        file; a hit is probabilistic, and the residual filter remains
        Spark-side. Probe positions are md5-derived in pure Python,
        bit-identical to the write side's Spark expressions.

        Probe geometry comes from EACH ENTRY, not from this handle: m is
        the stored bit-array's length and k the recorded probe count, so a
        reader opened with different ``bloom_bits`` than the writer (the
        8192 default vs a scaled table) still probes the geometry the file
        was written with. An entry without a recorded k raises."""
        manifest = self._live_manifest()
        entries = manifest["entries"]
        pos_by_geom: dict[tuple[int, int], list[int]] = {}
        keep = []
        for e in entries:
            b = e.get("bloom")
            if b is not None:
                bits = base64.b64decode(b["bits"])
                geom = (b["k"], len(bits) * 8)
                positions = pos_by_geom.get(geom)
                if positions is None:
                    positions = pos_by_geom[geom] = bloom_positions(value, *geom)
                if not all(bits[p // 8] & (1 << (p % 8)) for p in positions):
                    continue  # definitive miss
            keep.append(e)
        return self._read(manifest, keep), len(entries) - len(keep)

    def upsert(self, incoming: DataFrame, key: str) -> dict:
        """Merge-on-read MERGE = DELETE + INSERT in ONE commit: rows in
        ``incoming`` replace same-key rows; new keys append. The live
        same-key rows are marked in their entries' deletion vectors
        (``_mark`` over the files whose stats for ``key`` meet incoming's
        key range) and incoming lands as new files; no existing file is
        rewritten. ``key`` must be one of the table's stats columns.
        Returns {'rewritten': 0, 'carried': <entries>, 'marked': <rows
        replaced>}.

        ``incoming`` must be unique on ``key`` — duplicate source keys have
        no defined MERGE semantics (Delta raises too), and silently landing
        both copies would corrupt the table's key uniqueness. Checked in
        the same job as the key-range scan; raises ValueError.

        Incoming rides the same ``_align_to_live`` contract as append:
        extra columns are rejected loudly (no silent drift invisible on
        declared-schema reads), missing columns null-fill, and type drift
        raises at write time."""
        parent, manifest = self._snapshot()
        incoming, _ = self._align_to_live(incoming, manifest, evolve=False)
        lo, hi, n, n_keys = incoming.agg(
            F.min(key), F.max(key), F.count(F.lit(1)), F.count_distinct(key)
        ).collect()[0]
        if n != n_keys:
            # count_distinct ignores NULLs, so this also rejects NULL keys —
            # a NULL merge key matches nothing and has no UPSERT meaning
            raise ValueError(
                f"upsert incoming has duplicate or NULL '{key}' rows "
                f"({n} rows, {n_keys} distinct non-null keys); MERGE "
                "requires a unique non-null source key — dedup incoming first"
            )
        entries = manifest["entries"]
        # lo is None only for an empty incoming: nothing to replace
        touched = [] if lo is None else [
            e for e in entries if not self._disjoint(e, key, lo, hi)
        ]
        entries, marked = self._mark(
            manifest, touched,
            lambda df: df.join(incoming.select(key), on=key, how="left_semi"),
        )
        new = self._write_files(incoming)
        self._commit_or_discard(entries + new, new, parent=parent)
        return {"rewritten": 0, "carried": len(entries), "marked": marked}

    # ---------------------------------------------------------- time travel

    def history(self) -> list[str]:
        """Manifest ids from live back to the table's creation (parent
        chain) — newest first."""
        out = []
        mid: str | None = self._live_id()
        while mid is not None:
            out.append(mid)
            mid = self._manifest_at(mid)["parent"]
        return out

    def restore(self, manifest_id: str) -> str:
        """Delta RESTORE analog: make a PAST snapshot live again by
        committing a NEW manifest that references the old snapshot's
        files and schema — history moves forward (the bad commits stay
        inspectable in the parent chain; nothing is rewritten or
        deleted), only the pointer's view changes. Zero data I/O: the
        restore commit carries file references, and with them the target's
        deletion vectors. Raises if the target snapshot's files were
        already vacuumed away."""
        try:
            target = self._manifest_at(manifest_id)
        except FileNotFoundError:
            raise ValueError(
                f"cannot restore {manifest_id}: the manifest itself was "
                "vacuumed — only snapshots still in the manifest dir are "
                "restorable"
            ) from None
        missing = [e["path"] for e in target["entries"]
                   if not os.path.exists(e["path"])]
        if missing:
            raise ValueError(
                f"cannot restore {manifest_id}: {len(missing)} data files "
                f"were vacuumed (first: {missing[0]})"
            )
        parent, _ = self._snapshot()
        self._commit(target["entries"], parent=parent,
                     schema_json=target["schema"])
        return self._live_id()

    def read_at(self, manifest_id: str) -> DataFrame:
        """Read the table as of a past commit (files from that manifest —
        valid until ``vacuum`` reclaims non-live data). Reads with the
        schema recorded in THAT manifest: columns added later do not
        appear in an older snapshot."""
        manifest = self._manifest_at(manifest_id)
        return self._read(manifest, manifest["entries"])

    def compact(self, target_rows: int = 100_000) -> dict:
        """The one rewrite: the small files (below ``target_rows``) and
        every entry with a deletion vector are greedily binned into groups
        totalling ~target_rows, each group read through ``_read`` (its
        DV'd rows drop out) and written as one file, so no DV outlives a
        compaction. Other files carry over untouched; with nothing to
        rewrite there is no commit. Returns {'rewritten', 'carried',
        'bins'}."""
        parent, manifest = self._snapshot()
        todo, carried = [], []
        for e in manifest["entries"]:
            (todo if e["rows"] < target_rows or "dv" in e
             else carried).append(e)
        if not todo:
            return {"rewritten": 0, "carried": len(carried), "bins": 0}
        bins: list[list[dict]] = []
        cur, cur_rows = [], 0
        for e in sorted(todo, key=lambda e: e["rows"]):
            if cur_rows + e["rows"] > target_rows and cur:
                bins.append(cur)
                cur, cur_rows = [], 0
            cur.append(e)
            cur_rows += e["rows"]
        bins.append(cur)
        new = []
        for group in bins:
            new += self._write_files(self._read(manifest, group).coalesce(1))
        self._commit_or_discard(carried + new, new, parent=parent)
        return {"rewritten": len(todo), "carried": len(carried),
                "bins": len(bins)}


def vacuum(table: ManifestTable) -> dict:
    """Remove data files referenced by NO manifest reachable from the live
    pointer (i.e., files orphaned by compact and restore commits) and all
    non-live manifests. Time travel ends; space is reclaimed."""
    live_paths = {e["path"] for e in table.files()}
    removed_files = 0
    for batch in os.listdir(table.data_dir):
        bdir = os.path.join(table.data_dir, batch)
        files = [os.path.join(bdir, f) for f in os.listdir(bdir)
                 if f.endswith(".parquet")]
        if files and not any(f in live_paths for f in files):
            shutil.rmtree(bdir)
            removed_files += len(files)
        else:
            for f in files:
                if f not in live_paths:
                    os.remove(f)
                    removed_files += 1
    with open(table._pointer()) as f:
        live_manifest = f.read().strip()
    removed_manifests = 0
    for m in os.listdir(table.manifest_dir):
        if m != live_manifest:
            os.remove(os.path.join(table.manifest_dir, m))
            removed_manifests += 1
    return {"data_files": removed_files, "manifests": removed_manifests}


def clone_shallow(src: ManifestTable, root: str, name: str) -> ManifestTable:
    """Zero-copy table clone (Delta ``SHALLOW CLONE``): the clone gets its
    OWN pointer/manifest lineage whose initial commit references the
    source's live data files by absolute path, each entry with its
    deletion vector. No data is read or copied, so cloning a 100 TB table
    is an O(metadata) driver operation: one snapshot read, one manifest
    write.

    Divergence is free by construction: every write path lands files under
    the writing table's own ``data_dir`` (``_write_files``) and a DV is a
    field of the writing table's own manifest entries, so clone mutations
    never touch source storage and vice versa; ``vacuum`` walks only its
    table's ``data_dir`` and can never reclaim the other side's files. ``txn`` idempotence tokens are
    deliberately NOT inherited (parent=None ⇒ fresh namespace): a batch
    replayed against the clone is a new write against a new table.

    Caveat, same as Delta's documented one: ``vacuum`` on the SOURCE
    consults only the source's reachable manifests, so it can reclaim
    files a clone still references. Vacuuming a cloned-from table is a
    catalog-level coordination concern, stated here rather than hidden."""
    dst = ManifestTable(src.spark, root, name, src.stats_cols,
                        bloom_col=src.bloom_col)
    os.makedirs(dst.data_dir, exist_ok=True)
    os.makedirs(dst.manifest_dir, exist_ok=True)
    manifest = src._live_manifest()
    dst._commit(manifest["entries"], parent=None,
                schema_json=manifest["schema"])
    return dst
