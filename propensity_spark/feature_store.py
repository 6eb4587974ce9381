"""Feature store: versioned parquet tables with Delta-style semantics.

The reference uses the Databricks Feature Store (04a:612-630 create +
merge write, 04b:195-217 FeatureLookup, 04c:181-186 score_batch).
Open equivalents here (SURVEY.md §1 'Spark mapping'):

* ``FeatureTable.create`` — schema'd parquet table partitioned by the
  version column ``day`` (point-in-time reads prune to one partition;
  at 100 TB this is the difference between a partition read and a full
  scan).
* ``FeatureTable.merge`` — the S5/S7 MERGE-upsert keyed on the PK
  (which deliberately includes ``day``, 04a:599). The batch is written
  once, straight into the next version of the day partitions it
  touches; for days already in the store the existing rows the batch
  does not replace (anti-join on the PK) are appended to that same
  version. One pointer rename commits every day of it at once, as
  Delta's MERGE commits one log entry.

* ``FeatureTable.lookup`` — J7's exact-key left-outer join with the
  per-table column-rename prefix (`household__*`, ...) and key/day
  exclusion (04b:195-217). Exact `day` match is the reference's
  documented choice over as-of semantics (04a:599); `lookup_asof`
  offers the range variant the reference lacks.

Physical layout — snapshot-safe versioned partitions:

    <table>/day=<D>/v=<N>/*.parquet   immutable version dirs
    <table>/_CURRENT                  committed state (JSON): per day,
                                      its version list (last = live)
                                      and the version that first
                                      committed it

Every write (create/merge/compact/forget/expire) materializes its NEW
``v=N`` dirs first and only then commits by atomically rewriting the
table's one ``_CURRENT`` pointer — the single-file-rename analogue of
Delta's log commit, so a write lands on every day it touches or on
none. Readers resolve the pointer at DataFrame-build time and scan only
the resolved version dirs, so a reader mid-scan keeps a consistent
snapshot while a concurrent merge/compact lands. GC keeps the newest
``keep_versions`` committed versions per day (default 2): the Delta
VACUUM-retention analogue, which both protects in-flight readers and
bounds ``read(version=...)`` time travel; ``history()`` is the
DESCRIBE HISTORY analogue. The pointer doubles as the commit marker: a
writer that dies before the rename leaves unpointed v-dirs that no
read (including time travel) ever resolves and the next successful
write garbage-collects. One writer per table at a time (the
reference's job model, which Delta's commit protocol enforces): every
mutation holds an exclusive ``flock`` on ``<table>/_WRITER_LOCK``, a
second live writer raises, and the kernel releases the lock when its
holder exits, so a killed writer never blocks the re-run. At 100 TB on
an object store the pointer file becomes a catalog/manifest entry and
the lock a catalog lease — same seam.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

REPO_ROOT = Path(__file__).resolve().parents[1]
DEFAULT_STORE = REPO_ROOT / ".tmp" / "feature_store"

class FeatureTable:
    def __init__(
        self,
        spark: SparkSession,
        name: str,
        pk: list[str],
        base: str | None = None,
        keep_versions: int = 2,
    ):
        if "day" not in pk:
            raise ValueError("feature tables are versioned by 'day' in the PK (04a:599)")
        self.spark = spark
        self.name = name
        self.pk = pk
        # Retention horizon: committed versions kept per day partition.
        # 2 = snapshot safety only (current + the one superseded); raise
        # it to enable deeper time travel via read(version=...) — the
        # Delta VACUUM-retention analogue.
        self.keep_versions = max(1, keep_versions)
        self.path = str(Path(base or DEFAULT_STORE) / name)

    # -- versioned-layout plumbing -----------------------------------------

    @contextlib.contextmanager
    def _writer_lock(self):
        """Enforce the single-writer-per-table assumption LOUDLY: every
        mutation holds a non-blocking exclusive `flock` on
        `<table>/_WRITER_LOCK`, so a second concurrent writer (another
        process, another table object or another thread) raises instead
        of interleaving version numbers and pointer commits into silent
        corruption. The kernel drops the lock when its holder's file is
        closed, so a crashed writer never blocks the next one, and the
        layout's crash-recovery story holds (unpointed v-dirs are GC'd
        by the next write). The file is opened per acquisition and
        never unlinked: unlinking would let two writers lock different
        inodes. At 100 TB on an object store this becomes a catalog
        lease, the same seam as the `_CURRENT` pointer."""
        Path(self.path).mkdir(parents=True, exist_ok=True)
        lock = Path(self.path) / "_WRITER_LOCK"
        fd = os.open(lock, os.O_RDWR | os.O_CREAT, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                raise RuntimeError(
                    f"concurrent writer holds {lock}; feature tables are single-writer"
                ) from None
            yield
        finally:
            os.close(fd)

    @staticmethod
    def _day_str(day) -> str:
        from propensity_spark.io import as_date

        return str(as_date(day))

    def _vdir(self, dval: str, n: int) -> Path:
        return Path(self.path) / f"day={dval}" / f"v={n}"

    def _state(self) -> dict[str, dict]:
        """The committed table, from the `_CURRENT` pointer: day string
        -> {"versions": committed-version history, ascending, last =
        live; "born": the version that first committed the day}. A day
        absent here was never committed (or was retired) and is
        invisible. ONLY versions listed here are ever resolved — an
        unpointed v-dir (crashed writer) can never serve a read,
        including a time-travel read."""
        try:
            return json.loads((Path(self.path) / "_CURRENT").read_text())
        except FileNotFoundError:
            return {}

    def _write_pointer(self, state: dict[str, dict]) -> None:
        """Commit `state`: trim each day's history to the newest
        `keep_versions`, then write-temp + os.replace `_CURRENT`. The
        one rename is the commit point for every day at once: readers
        see the old table or the new one, never a torn file or a mix of
        versions. GC then deletes what the new pointer no longer
        references."""
        for entry in state.values():
            del entry["versions"][: -self.keep_versions]
        ptr = Path(self.path) / "_CURRENT"
        tmp = ptr.with_name("_CURRENT.tmp")
        tmp.write_text(json.dumps(state, sort_keys=True))
        os.replace(tmp, ptr)
        self._gc(state)

    def _resolved(self, day=None, version: int | None = None) -> dict[str, Path]:
        """day-string -> version dir, resolved through the pointer. With
        `version`, Delta-style time travel: the latest committed
        version <= `version` per day (a day first committed after that
        version is excluded — it did not exist in that snapshot). A day
        that DID exist in the requested snapshot but whose versions
        <= `version` were all garbage-collected past the retention
        horizon raises instead of silently shrinking the snapshot —
        matching Delta's VERSION AS OF error on unreachable versions."""
        want = None if day is None else self._day_str(day)
        out = {}
        for dval, entry in self._state().items():
            if want is not None and dval != want:
                continue
            live = [
                self._vdir(dval, v)
                for v in entry["versions"]
                if (version is None or v <= version) and self._vdir(dval, v).exists()
            ]
            if live:
                out[dval] = live[-1]
            elif version is not None and entry["born"] <= version:
                raise FileNotFoundError(
                    f"time travel to version {version}: day {dval} "
                    f"existed in that snapshot (first committed at "
                    f"version {entry['born']}) but its versions <= {version} "
                    "were garbage-collected past the retention horizon"
                )
        return out

    def _next_version(self) -> int:
        """Global monotone version: 1 + max over every v-dir on disk.
        Every committed version has its dir, and crashed writers leave
        unpointed dirs — counted so a retry never reuses their number."""
        return 1 + max(
            (int(vd.name[2:]) for vd in Path(self.path).glob("day=*/v=*")), default=0
        )

    def _gc(self, state: dict[str, dict]) -> None:
        """Retention: delete every dir the committed `state` does not
        reference — versions past the `keep_versions` horizon (an
        in-flight reader's resolved snapshot survives at least
        keep_versions - 1 subsequent writes, and time travel reaches
        that far back), unpointed dirs from crashed writes, and whole
        days that are retired or were never committed."""
        for dd in Path(self.path).glob("day=*"):
            entry = state.get(dd.name.split("=", 1)[1])
            if entry is None:
                shutil.rmtree(dd, ignore_errors=True)
                continue
            keep = {f"v={v}" for v in entry["versions"]}
            for vd in dd.glob("v=*"):
                if vd.name not in keep:
                    shutil.rmtree(vd, ignore_errors=True)

    def _write_version(self, df: DataFrame, n: int) -> None:
        """Materialize a new version: dynamic-partition overwrite on
        (day, v=n) touches ONLY the new version dirs — every live and
        previous version dir survives the write untouched."""
        if "v" in df.columns:
            raise ValueError(
                "column name 'v' collides with the store's version partition"
            )
        # Per-write option, NOT a session-conf save/restore: the merges/
        # creates of different tables run concurrently (pipeline grain
        # pool, training-set builds), and a session-global set/restore
        # races — one thread's finally-restore to 'static' can land
        # before another thread's overwrite job captures the conf, and a
        # STATIC partitioned overwrite truncates the whole table path
        # (every previously committed day/version). The DataFrameWriter
        # option is captured at write time and is thread-safe.
        df.withColumn("v", F.lit(n)).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day", "v").parquet(self.path)

    def _commit_version(
        self, n: int, replace_all: bool = False, purge: bool = False
    ) -> None:
        """Commit version `n` for every day that holds a v=n dir, in one
        pointer write: `n` is appended to the day's history (`purge`:
        the history becomes just `n`), and a day's first commit records
        `n` as its `born` version. The retention trim drops a day's
        oldest versions, so `born` is what lets time travel tell 'day
        did not exist yet' (silently excluded) from 'day existed but
        its versions were vacuumed' (raises). `replace_all` (create
        semantics) also retires the days absent from version `n`."""
        state = self._state()
        days = {
            vd.parent.name.split("=", 1)[1]
            for vd in Path(self.path).glob(f"day=*/v={n}")
        }
        if replace_all:
            state = {d: e for d, e in state.items() if d in days}
        for d in days:
            entry = state.setdefault(d, {"born": n, "versions": []})
            entry["versions"] = [n] if purge else entry["versions"] + [n]
        self._write_pointer(state)

    def exists(self) -> bool:
        return bool(self._resolved())

    def has_day(self, day) -> bool:
        """True if the day partition is COMPLETELY materialized — a
        metadata (pointer + directory) check, no scan. The pointer
        commit happens only after a successful write, so a merge that
        died mid-write leaves an unpointed v-dir and the next daily run
        redoes the day instead of silently freezing torn data in the
        store."""
        return self._day_str(day) in self._resolved(day)

    def create(self, df: DataFrame) -> int:
        """Full (re)write, partitioned by day (S3 + partition pruning).
        Versioned: the new state lands as unpointed v-dirs first, then
        the pointer commits it; days absent from `df` are retired.
        Returns the committed version number."""
        with self._writer_lock():
            n = self._next_version()
            self._write_version(df, n)
            self._commit_version(n, replace_all=True)
            return n

    def read(self, day=None, version: int | None = None) -> DataFrame:
        """Snapshot read: pointers are resolved NOW, and the returned
        DataFrame scans exactly those immutable version dirs — writes
        landing after this call don't change (or tear) what it sees.
        read(day) resolves to a single version dir: stronger than
        partition pruning, the other days never enter the file index.

        `version` is Delta-style time travel (VERSION AS OF): each day
        resolves to its latest committed version <= `version`; days
        first committed after it are absent. Reachable depth is the
        `keep_versions` retention horizon — `history()` lists what is
        still on disk."""
        resolved = self._resolved(day, version)
        if not resolved:
            raise FileNotFoundError(
                f"no committed data for {self.name} at {self.path}"
                + (f" day={day}" if day is not None else "")
                + (f" version<={version}" if version is not None else "")
            )
        # basePath keeps day (and v) as inferred partition columns even
        # though only the resolved leaf dirs are listed; mergeSchema
        # reconciles partitions written before a schema-evolving merge
        # (allow_new_columns) with those written after — older
        # partitions read NULL for the added columns. (In a catalog
        # deployment the table schema would come from the metastore
        # instead of file-footer merging.)
        df = (
            self.spark.read.option("basePath", self.path)
            .option("mergeSchema", "true")
            .parquet(*[str(p) for p in resolved.values()])
        )
        return df.drop("v")

    def history(self) -> dict[str, list[int]]:
        """DESCRIBE HISTORY analogue (metadata-only, no scan): committed
        versions still on disk per day partition, ascending; the last
        entry is the live one. Any listed version is a valid
        `read(version=...)` target."""
        out = {}
        for dval, entry in self._state().items():
            hist = [v for v in entry["versions"] if self._vdir(dval, v).exists()]
            if hist:
                out[dval] = hist
        return out

    def diff(self, v_old: int, v_new: int) -> DataFrame:
        """Keyed diff between two committed snapshots — the CDC view
        of a pair of `read(version=)` targets: per day, how many PK
        rows were added, removed, changed (any non-PK column differs,
        via an md5 row hash over the union of both schemas so
        evolution-added columns count as changes), and unchanged.
        One full-outer PK join between the two snapshots — both sides
        are partition-pruned version dirs, and the join keys on the
        PK, so at 100 TB this is one co-partitioned shuffle of the
        two snapshots and nothing else."""
        old, new = self.read(version=v_old), self.read(version=v_new)
        val_cols = sorted(
            (set(old.columns) | set(new.columns)) - set(self.pk)
        )

        def hashed(df: DataFrame, tag: str) -> DataFrame:
            proj = [
                (
                    F.col(c) if c in df.columns else F.lit(None)
                ).cast("string")
                for c in val_cols
            ]
            return df.select(
                *self.pk,
                F.md5(
                    F.concat_ws(
                        "\x1f", *[F.coalesce(p, F.lit("\x00")) for p in proj]
                    )
                ).alias(f"__h_{tag}"),
            )

        joined = hashed(old, "old").join(hashed(new, "new"), self.pk, "full_outer")
        status = (
            F.when(F.col("__h_old").isNull(), F.lit("added"))
            .when(F.col("__h_new").isNull(), F.lit("removed"))
            .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
        )
        return (
            joined.withColumn("__status", status)
            .groupBy("day")
            .agg(
                F.sum((F.col("__status") == "added").cast("long")).alias("added"),
                F.sum((F.col("__status") == "removed").cast("long")).alias("removed"),
                F.sum((F.col("__status") == "changed").cast("long")).alias("changed"),
                F.sum((F.col("__status") == "unchanged").cast("long")).alias(
                    "unchanged"
                ),
            )
        )

    def merge(self, batch: DataFrame, allow_new_columns: bool = False) -> int:
        """Upsert on the PK (S5/S7), writing the batch once. The batch
        lands directly in the next version dir of every day it touches;
        for days already in the store, the existing rows whose PK the
        batch does not carry are appended to that same version
        (whenMatchedUpdateAll + whenNotMatchedInsertAll semantics). The
        version stays unpointed, and so invisible, until the pointer
        commit, so a failure anywhere before it leaves the table as it
        was. Returns the committed version number — a valid
        read(version=...) target.

        `allow_new_columns` is Delta's schema.autoMerge analogue (the
        reference enables it so each model's MERGE can add one score
        column, 04c:156): the batch may add or omit columns, and rows
        without a column read NULL for it. Off by default — a batch
        whose column set differs from the table's raises before
        anything is written, so schema drift fails loudly unless opted
        into."""
        with self._writer_lock():
            # Read under the lock: an empty table takes the batch as its
            # first commit, and a table another writer has just committed
            # to is merged into, never replaced.
            live = self._resolved()
            if live:
                table = self.read()  # the pre-merge snapshot
                drift = set(batch.columns) ^ set(table.columns)
                if drift and not allow_new_columns:
                    raise ValueError(
                        f"merge into {self.name}: columns {sorted(drift)} are not "
                        "in both the batch and the table (allow_new_columns=True "
                        "evolves the schema)"
                    )
            n = self._next_version()
            self._write_version(batch, n)
            # Touched days already in the store: the live days that now
            # hold a v=n dir — a listing, no scan. A new day needs no more.
            upserted = [d for d in live if self._vdir(d, n).exists()]
            if upserted:
                # The batch's PK read back from its version dirs (PK columns
                # only). No broadcast hint: the batch is unbounded (the full
                # per-day feature set at 100 TB), so the join strategy is
                # AQE's call.
                new_keys = (
                    self.spark.read.option("basePath", self.path)
                    .parquet(*[f"{self.path}/day={d}/v={n}" for d in upserted])
                    .select(*self.pk)
                )
                survivors = table.where(F.col("day").isin(upserted)).join(
                    new_keys, self.pk, "left_anti"
                )
                survivors.withColumn("v", F.lit(n)).write.mode("append").partitionBy(
                    "day", "v"
                ).parquet(self.path)
            self._commit_version(n)
            return n

    def compact(
        self,
        day,
        target_files: int = 1,
        sort_by: list[str] | None = None,
        zorder: bool = False,
    ) -> int:
        """Operational: rewrite one day partition into `target_files`
        parquet files. Daily MERGEs leave one file per shuffle partition
        per run; after N runs a partition holds N x partitions small
        files and scan planning dominates read cost (the classic
        small-file problem). Returns the file count after compaction.
        At 100 TB this runs as a background job per aged partition —
        only the named partition is read or written.

        `sort_by` clusters the rewrite for data skipping (Delta's
        OPTIMIZE ... ZORDER BY analog): range-partition + sort so each
        output file covers a narrow slice of the key space and parquet
        row-group min/max stats prune selective reads. `zorder=True`
        sorts by the Morton interleaved key over ALL `sort_by` columns
        (io.zorder_key) so skipping works for filters on any of them;
        default is lexicographic (leading-column skipping only)."""
        # Read under the lock, as merge does: a snapshot taken before it
        # can miss another writer's commit, which this rewrite would drop.
        with self._writer_lock():
            if not self.has_day(day):
                raise ValueError(f"no partition for day={day}")
            df = self.read(day).drop("day")  # day is path-encoded; restored by dir
            if sort_by and zorder and len(sort_by) > 1:
                from propensity_spark.io import zorder_key

                df = (
                    df.withColumn("__zkey", zorder_key(df, sort_by))
                    .repartitionByRange(target_files, "__zkey")
                    .sortWithinPartitions("__zkey")
                    .drop("__zkey")
                )
            elif sort_by:
                df = df.repartitionByRange(target_files, *sort_by).sortWithinPartitions(
                    *sort_by
                )
            else:
                df = df.repartition(target_files)
            # The compacted rewrite is just another version: written to an
            # unpointed v-dir (readers can't see it, and the source version
            # dir it reads from is immutable), committed by the pointer
            # rename, after which GC retires versions older than the one just
            # superseded. A crash mid-write leaves the pointer — and every
            # reader — on the old, complete version.
            n = self._next_version()
            new_dir = self._vdir(self._day_str(day), n)
            df.write.mode("overwrite").parquet(str(new_dir))
            self._commit_version(n)
            return len(list(new_dir.glob("*.parquet")))

    def validate(self, day=None, expectations: list[dict] | None = None) -> dict:
        """DLT-expectations-style health check over the table (or one
        pruned day partition): PK null-ness and PK uniqueness — the two
        invariants MERGE correctness rests on — plus optional
        VALUE-LEVEL expectations from a declarative spec, the analogue
        of the reference's display-cell eyeball checks and of DLT
        `@expect` clauses. Each spec entry:

            {"column": "amount_list_30d",   # required
             "max_null_frac": 0.05,         # optional: null-fraction cap
             "min": 0.0, "max": 1e9}        # optional: value range

        ALL checks ride ONE aggregation job (the null/range counters
        are extra agg expressions on the same pass — adding an
        expectation costs zero extra scans); duplicate-PK still needs
        its one distinct shuffle. Returns the original counters plus
        `expectations` (per-column violation detail) and
        `failed_expectations` (how many specs broke). At 100 TB run
        per-day (pruned), not table-wide."""
        df = self.read(day)
        data_pk = [k for k in self.pk if k != "day" or day is None]
        null_pred = None
        for k in data_pk:
            cond = F.col(k).isNull()
            null_pred = cond if null_pred is None else (null_pred | cond)
        aggs = [
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(null_pred, 1)).alias("null_pk"),
        ]
        specs = expectations or []
        for i, spec in enumerate(specs):
            c = F.col(spec["column"])
            aggs.append(F.count(F.when(c.isNull(), 1)).alias(f"__null_{i}"))
            rng = None
            if spec.get("min") is not None:
                rng = c < F.lit(spec["min"])
            if spec.get("max") is not None:
                over = c > F.lit(spec["max"])
                rng = over if rng is None else (rng | over)
            aggs.append(
                F.count(F.when(rng, 1) if rng is not None else F.lit(None)).alias(
                    f"__oor_{i}"
                )
            )
        stats = df.agg(*aggs).collect()[0]
        distinct_pk = df.select(*data_pk).distinct().count()
        out = {
            "rows": stats["rows"],
            "null_pk": stats["null_pk"],
            "duplicate_pk": stats["rows"] - distinct_pk,
        }
        if specs:
            details, failed = [], 0
            rows = max(stats["rows"], 1)
            for i, spec in enumerate(specs):
                null_frac = stats[f"__null_{i}"] / rows
                oor = stats[f"__oor_{i}"]
                ok = oor == 0 and (
                    spec.get("max_null_frac") is None
                    or null_frac <= spec["max_null_frac"]
                )
                failed += 0 if ok else 1
                details.append(
                    {
                        "column": spec["column"],
                        "n_null": stats[f"__null_{i}"],
                        "null_frac": null_frac,
                        "n_out_of_range": oor,
                        "passed": ok,
                    }
                )
            out["expectations"] = details
            out["failed_expectations"] = failed
        return out

    def forget(
        self, key_col: str, values: list, purge_history: bool = False
    ) -> dict:
        """Right-to-be-forgotten: remove every row whose `key_col` is
        in `values` from EVERY day partition, as one new committed
        version (snapshot-isolated like merge — concurrent readers on
        the old version are untouched mid-operation). `values` is a
        bounded compliance list (erasure requests), embedded as a
        broadcast-sized IN filter — never a join against a big frame.

        By default the superseded versions remain until the normal
        keep_versions GC horizon — time travel still sees the subject
        until then. `purge_history=True` finishes the job for real
        erasure: every affected day's history is committed as just the
        new version and its older version dirs are deleted (the Delta
        analogue is DELETE + VACUUM(0)).

        Returns an audit dict: affected days, rows removed, committed
        version, purge flag."""
        if not values:
            return {"days": [], "rows_removed": 0, "version": None,
                    "purged": purge_history}
        # coalesce: a NULL key is never "in values" — without it the
        # negation below would silently drop NULL-keyed rows too
        cond = F.coalesce(F.col(key_col).isin(values), F.lit(False))
        # Read under the lock, for the reason compact does.
        with self._writer_lock():
            cur = self.read()
            affected = sorted(
                str(r[0]) for r in cur.where(cond).select("day").distinct().collect()
            )
            if not affected:
                return {"days": [], "rows_removed": 0, "version": None,
                        "purged": purge_history}
            scope = cur.where(F.col("day").isin(affected))
            removed = scope.where(cond).count()
            n = self._next_version()
            self._write_version(scope.where(~cond), n)
            # a day whose every row was forgotten writes no v=n partition
            # under dynamic overwrite: materialize its empty version so the
            # pointer commit retires the old data there too
            for dstr in affected:
                vdir = self._vdir(dstr, n)
                if not vdir.exists():
                    scope.limit(0).drop("day").write.mode("overwrite").parquet(
                        str(vdir)
                    )
            self._commit_version(n, purge=purge_history)
        return {"days": affected, "rows_removed": removed, "version": n,
                "purged": purge_history}

    def expire(self, before_day) -> list:
        """Operational: retention — drop day partitions strictly older
        than `before_day` (metadata-only: one pointer commit, then
        directory removal, no scan; with Delta this is `DELETE WHERE
        day < ...` + VACUUM). Returns the dropped day values."""
        from propensity_spark.io import as_date

        if not Path(self.path).exists():
            return []  # fresh table: retention is a no-op
        cutoff = as_date(before_day)
        with self._writer_lock():
            state = self._state()
            dropped = [d for d in state if as_date(d) < cutoff]
            if dropped:
                self._write_pointer({d: state[d] for d in state if d not in dropped})
        return dropped

    def lookup(
        self,
        keys_df: DataFrame,
        prefix: str,
        day_col: str = "day",
        exclude: list[str] | None = None,
    ) -> DataFrame:
        """J7: exact-key left-outer feature lookup with rename prefix.
        Key and day columns are excluded from the output, feature
        columns become `<prefix>__<name>` (04b:210-216)."""
        feats = self.read()
        join_keys = [k for k in self.pk if k != "day"] + [day_col]
        feats = feats.withColumnRenamed("day", day_col) if day_col != "day" else feats
        keep = [c for c in feats.columns if c not in self.pk and c != day_col]
        renamed = feats.select(
            *[F.col(k) for k in join_keys],
            *[F.col(c).alias(f"{prefix}__{c}") for c in keep if c not in (exclude or [])],
        )
        return keys_df.join(renamed, join_keys, "leftouter")

    def lookup_asof(self, keys_df: DataFrame, prefix: str, day_col: str = "day") -> DataFrame:
        """As-of variant (reference non-goal, SURVEY.md §7): for each key
        row, the latest feature row with feature.day <= keys.day.

        Implemented as the union + ``last(ignorenulls)`` entity-window
        pattern (same as q_asof_join, operators/extended.py:29-42), NOT
        as a `feat.day <= key.day` theta-join: that join materializes,
        per key row, one intermediate row for EVERY feature day at or
        before it — with a year of daily history a ~365x amplification
        before any filter. Here the two sides are tagged and unioned on
        the shared entity key, one entity-keyed window carries the
        latest feature row forward as a single struct (so a feature row
        is taken atomically — a NULL inside one feature column never
        pulls an older day's value for just that column), and key rows
        are kept. Rows entering the window == |keys| + |feature rows|;
        exactly one entity-keyed exchange; left-outer semantics fall out
        (a key with no at-or-before feature sees a NULL struct)."""
        from pyspark.sql import Window

        entity_keys = [k for k in self.pk if k != "day"]
        feats = self.read()
        keep = [c for c in feats.columns if c not in self.pk]
        feat_struct = F.struct(*[F.col(c).alias(c) for c in keep])
        feat_side = feats.select(
            *entity_keys,
            F.col("day").alias(day_col),
            F.lit(0).alias("__side"),
            feat_struct.alias("__feat"),
        )
        extra = [c for c in keys_df.columns if c not in entity_keys and c != day_col]
        key_side = keys_df.select(
            *entity_keys,
            day_col,
            F.lit(1).alias("__side"),
            F.lit(None).cast(feat_side.schema["__feat"].dataType).alias("__feat"),
            *extra,
        )
        unioned = key_side.unionByName(feat_side, allowMissingColumns=True)
        # Feature rows sort BEFORE key rows on ties (__side 0 < 1) so a
        # key at day D sees the feature row of day D — at-or-BEFORE.
        w = (
            Window.partitionBy(*entity_keys)
            .orderBy(F.col(day_col).asc_nulls_first(), F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        resolved = unioned.withColumn("__last", F.last("__feat", ignorenulls=True).over(w))
        return resolved.where(F.col("__side") == 1).select(
            *entity_keys,
            day_col,
            *extra,
            *[F.col("__last").getField(c).alias(f"{prefix}__{c}") for c in keep],
        )


def q_feature_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercises create -> merge (overlapping day, changed values) ->
    merge (new day) -> point-in-time read + lookup -> AS-OF lookup.
    Returns per-day row counts plus a checksum column of the merged
    state; the final row (day 2024-01-03) is the `lookup_asof` section:
    every household keyed at 01-03 must resolve to its 01-02 feature
    row (the latest at-or-before), so its checksum equals the un-merged
    day-2 sum."""
    import uuid

    from propensity_spark.operators.features import q_household_features

    base = DEFAULT_STORE / f"roundtrip_{uuid.uuid4().hex[:8]}"
    feats = q_household_features(spark, sf_dir)
    # Persisting d1 for the four downstream consumers was tried and
    # REJECTED by measurement (r09, min-of-3 interleaved in one warm
    # session: 27.2 -> 31.3 s): only create() needs all ~90 feature
    # columns — the merge-update derivation and the as-of key set are
    # narrow, so the cache materializes the wide frame where
    # recomputation reads pruned parquet subtrees. Same
    # lesson as the rejected single-scan feature rewrite (guide §1.1).
    d1 = feats.withColumn("day", F.lit("2024-01-01").cast("date"))
    table = FeatureTable(spark, "household_features", ["household_key", "day"], str(base))
    try:
        table.create(d1)
        # overlapping merge: same day, doubled amounts for half the keys
        update = d1.where(F.col("household_key") % 2 == 0).withColumn(
            "amount_list_30d", F.col("amount_list_30d") * 2
        )
        table.merge(update)
        # new-day merge
        table.merge(d1.withColumn("day", F.lit("2024-01-02").cast("date")))
        out = (
            table.read()
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("amount_list_30d") + 1e-6, 2).alias("amount_checksum"),
            )
            .orderBy("day")
        )
        asof_day = F.lit("2024-01-03").cast("date")
        keys = d1.select("household_key").withColumn("day", asof_day)
        asof = table.lookup_asof(keys, "hf").agg(
            F.first(asof_day).alias("day"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("hf__amount_list_30d") + 1e-6, 2).alias("amount_checksum"),
        )
        rows = out.unionByName(asof).collect()  # materialize before cleanup
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


QUERIES = {"feature_store_roundtrip": q_feature_store_roundtrip}

# The merge sequence is deterministic over the fixture, so the FINAL
# store state is SQL-expressible: day 1 = household features with even
# keys' 30d amount doubled (the overlapping merge wins), day 2 = the
# original features (new-day merge), day 3 = the lookup_asof section
# (keys at 01-03 resolve to the 01-02 rows). Upgrading this from
# rows-only to a full oracle pins create/merge/read/as-of end-to-end
# against DuckDB.
def _roundtrip_oracle() -> str:
    from propensity_spark.operators.features import ORACLES as _FEAT

    hf = _FEAT["household_features"]
    return f"""
        WITH hf AS ({hf})
        SELECT DATE '2024-01-01' AS day, count(*) AS n_rows,
               round(1e-6 + sum(CASE WHEN household_key % 2 = 0
                                     THEN amount_list_30d * 2
                                     ELSE amount_list_30d END), 2) AS amount_checksum
        FROM hf
        UNION ALL
        SELECT DATE '2024-01-02', count(*), round(1e-6 + sum(amount_list_30d), 2)
        FROM hf
        UNION ALL
        SELECT DATE '2024-01-03', count(*), round(1e-6 + sum(amount_list_30d), 2)
        FROM hf
    """


ORACLES: dict[str, str] = {"feature_store_roundtrip": _roundtrip_oracle()}
