"""VersionedTable: a Delta-style commit-log table on plain parquet.

``ParquetTable`` (merge.py) commits by atomic directory swap — correct,
but every commit rewrites the whole table, and there is no history. This
class adds the lakehouse layer on top of the same parquet files:

* a ``_log/`` directory of numbered JSON commits, each a list of
  add/remove file actions; the **exclusive create** of the next-numbered
  log file is the commit point (O_EXCL — atomic on POSIX, the same
  single-writer-wins primitive Delta uses via object-store
  put-if-absent);
* **O(1) append**: new part files + an add-only commit — no rewrite of
  existing data, unlike ParquetTable.append's directory-level model;
* **snapshot isolation + time travel**: a reader resolves the file list
  at a version and is immune to concurrent commits; ``read(version=N)``
  reproduces any historical state until vacuumed;
* **optimistic concurrency**: appends (commutative) target whatever the
  next version is at commit time and retry past lost races;
  read-modify-write ops (overwrite/merge/delete/optimize/restore)
  commit at ``base + 1`` of the EXACT snapshot they read, so ANY
  interleaved commit — not just one racing the same number — surfaces
  as CommitConflict instead of silently landing on a moved base and
  losing the interloper's update; the caller re-reads and re-runs.

* **log checkpoints**: every ``checkpoint_interval`` commits the full
  snapshot state (live files + stats, schema flag, txn marks) is
  materialized as ``<v>.checkpoint.json``; readers replay only the log
  tail past the newest checkpoint — O(tail) planning instead of
  O(commits), the same move as Delta's parquet checkpoints +
  ``_last_checkpoint``. ``expire_log`` reclaims folded-in commit files.

On an object store the exclusive-create becomes the store's
put-if-absent / a commit service; the log format is unchanged. File
paths in the log are relative, so the table directory is relocatable.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .merge import _footer_schema, _null_safe_on

_LOG_DIR = "_log"


class CommitConflict(Exception):
    """Another writer committed the version this transaction targeted."""


class VersionedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = 10,
        enable_cdc: bool = False,
    ):
        self.spark = spark
        self.path = path
        self.log_path = os.path.join(path, _LOG_DIR)
        self.checkpoint_interval = checkpoint_interval
        self.enable_cdc = enable_cdc
        # commit files are immutable once written (O_EXCL create) and
        # checkpoint content is deterministic per version, so both are safe
        # to cache for the life of this handle
        self._action_cache: dict[int, list[dict]] = {}
        self._cp_cache: dict[int, dict] = {}

    # -- log primitives ------------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        return sorted(
            int(f[:-5])
            for f in os.listdir(self.log_path)
            if f.endswith(".json")
            and not f.endswith(".checkpoint.json")
            and f[:-5].isdigit()
        )

    def latest_version(self) -> int | None:
        """Newest committed version — from commit files OR checkpoints
        (after ``expire_log`` the newest checkpoint may BE the newest
        surviving log entry)."""
        vs = self._versions()
        cps = self._checkpoint_versions()
        cands = ([vs[-1]] if vs else []) + ([cps[-1]] if cps else [])
        return max(cands) if cands else None

    def _actions(self, version: int) -> list[dict]:
        cached = self._action_cache.get(version)
        if cached is None:
            with open(os.path.join(self.log_path, f"{version:012d}.json")) as f:
                cached = json.load(f)["actions"]
            self._action_cache[version] = cached
        return cached

    def _commit(self, version: int, actions: list[dict]) -> None:
        """Atomically publish ``actions`` as ``version``; raise
        CommitConflict if that version already exists (lost the race)."""
        os.makedirs(self.log_path, exist_ok=True)
        entry = {"version": version, "ts": time.time(), "actions": actions}
        target = os.path.join(self.log_path, f"{version:012d}.json")
        # Write the FULL content first, then atomically claim the version
        # with a hard link (fails with EEXIST if another writer won). A
        # bare open("x") + dump would make the O_EXCL create the commit
        # point with the content still unwritten — a crash mid-dump would
        # leave a torn "committed" file poisoning the log forever. The
        # link makes commit = content-complete, the same contract as an
        # object store's put-if-absent.
        tmp = os.path.join(self.log_path, f"_tmp-commit-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, target)
        except FileExistsError as e:
            raise CommitConflict(version) from e
        finally:
            os.unlink(tmp)
        self.spark.catalog.refreshByPath(self.path)
        if self.checkpoint_interval and version and (
            version % self.checkpoint_interval == 0
        ):
            try:
                self._write_checkpoint(version)
            except OSError:
                pass  # checkpoints are derived state; next interval retries

    # -- checkpoints ---------------------------------------------------------
    #
    # Snapshot resolution must not replay the whole log: at lake scale a
    # table accumulates thousands of commits and O(commits) planning per
    # read becomes the bottleneck (and on an object store, thousands of
    # GETs). Like Delta's parquet checkpoints, every ``checkpoint_interval``
    # commits the writer also materializes the FULL snapshot state (live
    # files + stats, schema-evolution flag, txn high-water marks) as
    # ``<v>.checkpoint.json``; readers start from the newest checkpoint at-
    # or-before their target version and replay only the tail. Checkpoints
    # are derived, deterministic state — losing one costs nothing, and two
    # racing writers produce identical content.

    def _checkpoint_versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        suffix = ".checkpoint.json"
        return sorted(
            int(f[: -len(suffix)])
            for f in os.listdir(self.log_path)
            if f.endswith(suffix) and f[: -len(suffix)].isdigit()
        )

    def _write_checkpoint(self, version: int) -> None:
        state = self._snapshot_state(version)
        tmp = os.path.join(self.log_path, f"_tmp-cp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(
            tmp, os.path.join(self.log_path, f"{version:012d}.checkpoint.json")
        )
        # no _last_checkpoint pointer file: discovery here is one local
        # listdir (_checkpoint_versions), which also survives torn
        # checkpoints by falling back to older ones. An object-store port
        # would add the pointer as its listing-free fast path — THAT is
        # where it stops being dead weight.

    def _snapshot_state(self, version: int | None = None) -> dict:
        """Resolve the snapshot at ``version`` (default latest): live
        ``files`` (name -> footer stats), ``schema_evolved`` flag, and per-
        app ``txn`` high-water marks. Starts from the newest checkpoint
        at-or-before the target and replays only later commits — O(tail),
        not O(log). Raises FileNotFoundError if a needed commit predates
        the oldest checkpoint and was expired (``expire_log``), or if an
        explicit ``version`` does not exist yet — silently clamping a
        future version to latest would hand a polling consumer the WRONG
        snapshot with no error (Delta's versionAsOf raises too)."""
        latest = self.latest_version()
        if version is not None and (latest is None or version > latest):
            raise FileNotFoundError(
                f"version {version} of {self.path} does not exist "
                f"(latest: {latest})"
            )
        target = latest if version is None else version
        state: dict = {
            "files": {},
            "schema_evolved": False,
            "txn": {},
            "columns": None,
        }
        if target is None:
            return state
        base = -1
        for cp in reversed(self._checkpoint_versions()):
            if cp <= target:
                loaded = self._cp_cache.get(cp)
                if loaded is None:
                    cp_file = os.path.join(
                        self.log_path, f"{cp:012d}.checkpoint.json"
                    )
                    try:
                        with open(cp_file) as f:
                            loaded = json.load(f)
                    except (OSError, ValueError):
                        continue  # torn/missing checkpoint: try an older one
                    self._cp_cache[cp] = loaded
                # copy: the replay below mutates, and the cache must stay
                # the pristine at-checkpoint state
                state = {
                    "files": dict(loaded["files"]),
                    "schema_evolved": loaded["schema_evolved"],
                    "txn": dict(loaded["txn"]),
                    "columns": loaded.get("columns"),
                }
                base = cp
                break
        vs = self._versions()
        if not vs and base == -1:
            if self._checkpoint_versions():
                # checkpoints EXIST but none at-or-before target and every
                # commit file is expired: the history this version needs is
                # gone — fail loudly, never return a silently-empty
                # snapshot (a caller would read "version N was empty")
                raise FileNotFoundError(
                    f"version {target} of {self.path} is not resolvable: "
                    "its commits were expired (expire_log) and no "
                    "checkpoint at-or-before it survives"
                )
            return state  # genuinely empty table (no commits, no checkpoints)
        tail = [v for v in vs if base < v <= target]
        # commits are consecutive integers, so the replay range
        # (base, min(target, latest)] must be gap-free and fully present;
        # anything else means history was expired past the checkpoint that
        # could serve this version — fail loudly, never return a partial
        # snapshot
        upper = min(target, vs[-1]) if vs else target
        expect = base + 1
        for v in tail:
            if v != expect:
                break
            expect += 1
        if expect <= upper:
            raise FileNotFoundError(
                f"version {target} of {self.path} is not resolvable: commit "
                f"{expect} was expired (expire_log) and no checkpoint at-or-"
                "before it survives"
            )
        for v in tail:
            for action in self._actions(v):
                if "add" in action:
                    state["files"][action["add"]] = action.get("stats", {})
                elif "remove" in action:
                    state["files"].pop(action["remove"], None)
                elif action.get("meta", {}).get("schema_evolved"):
                    state["schema_evolved"] = True
                elif action.get("meta", {}).get("columns") is not None:
                    # schema tracking: any commit writing a different column
                    # set than the table's running union marks the table
                    # evolved (readers pay mergeSchema from then on). A
                    # "reset" marker (overwrite / optimize — every file
                    # rewritten, so the snapshot is homogeneous again)
                    # clears the flag and re-bases the column set.
                    cols = sorted(action["meta"]["columns"])
                    if action["meta"].get("reset"):
                        state["columns"] = cols
                        state["schema_evolved"] = False
                    elif state["columns"] is None:
                        state["columns"] = cols
                    elif cols != state["columns"]:
                        state["schema_evolved"] = True
                        state["columns"] = sorted(
                            set(state["columns"]) | set(cols)
                        )
                elif "txn" in action:
                    txn = action["txn"]
                    prev = state["txn"].get(txn["app"])
                    state["txn"][txn["app"]] = max(
                        txn["batch"], prev if prev is not None else txn["batch"]
                    )
        return state

    def expire_log(self, retain_versions: int = 0) -> list[str]:
        """Delete commit files already folded into the newest checkpoint
        (keeping the last ``retain_versions`` of them for history display).
        Pairs with ``vacuum``: vacuum reclaims data files, this reclaims
        log files. Time travel to expired versions stops working; the
        checkpoint keeps every current and later snapshot resolvable."""
        cps = self._checkpoint_versions()
        if not cps:
            return []
        # the horizon must be CHECKPOINT-ALIGNED: retained versions above
        # it resolve by replaying from a checkpoint at-or-before them, so
        # deleting up to a raw (cps[-1] - retain) could remove commits a
        # retained version still needs (e.g. checkpoints at 10 and 20,
        # retain 8 → raw horizon 12 kills 11-12, which version 16 replays
        # through) — clamp to the newest checkpoint at-or-below the raw
        # horizon so every surviving version stays resolvable
        raw = cps[-1] - retain_versions
        aligned = [c for c in cps if c <= raw]
        if not aligned:
            return []
        horizon = aligned[-1]
        deleted = []
        for v in self._versions():
            if v <= horizon:
                for action in self._actions(v):  # expired feed provenance
                    if "cdc" in action:
                        try:
                            os.remove(os.path.join(self.path, action["cdc"]))
                        except OSError:
                            pass
                os.remove(os.path.join(self.log_path, f"{v:012d}.json"))
                self._action_cache.pop(v, None)
                deleted.append(f"{v:012d}.json")
        return deleted

    def files_at(self, version: int | None = None) -> list[str]:
        """Relative part-file paths live at ``version`` (default: latest)."""
        return sorted(self._snapshot_state(version)["files"])

    # -- data movement -------------------------------------------------------

    @staticmethod
    def _encode_bound(v):
        """Canonical JSON-safe encoding for a stats/pruning bound, applied
        to BOTH the logged footer stats and the query-time bounds so
        comparisons stay apples-to-apples. ints/floats/strings pass
        through; dates/timestamps become ISO-8601 strings (lexicographic
        order == chronological order). Returns None for anything else —
        the column then simply never prunes (pruning is an optimization,
        never a filter). Decimals are deliberately excluded: a
        float-rounded bound could cross a file's true min/max and prune a
        file that DOES contain matches."""
        import datetime

        if isinstance(v, bool):
            return None
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, datetime.datetime):
            # NORMALIZE TO UTC-NAIVE: pyarrow footer stats arrive
            # tz-aware UTC ('...+00:00') while Spark collect() bounds are
            # naive (session TZ pinned UTC by session.py) — mixing the
            # two forms makes '...+00:00' lexicographically GREATER than
            # its naive twin and prunes a file that contains the match
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        if isinstance(v, datetime.date):
            return v.isoformat()
        return None

    @staticmethod
    def _file_stats(path: str) -> dict:
        """Per-column [min, max] from the parquet footer, for the log's
        data-skipping index. Only orderable primitives whose encoding
        round-trips JSON exactly (ints, floats, strings, ISO-encoded
        dates/timestamps — see ``_encode_bound``); a column without an
        entry simply never prunes."""
        import pyarrow as pa

        try:
            import pyarrow.parquet as pq

            md = pq.ParquetFile(path).metadata
        except Exception:
            return {}
        agg: dict[str, list] = {}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                try:
                    lo = VersionedTable._encode_bound(st.min)
                    hi = VersionedTable._encode_bound(st.max)
                except pa.ArrowNotImplementedError:
                    continue  # e.g. an INT64-backed decimal: no stats decoder
                if lo is None or hi is None:
                    continue
                name = col.path_in_schema
                cur = agg.get(name)
                if cur is None:
                    agg[name] = [lo, hi]
                else:
                    agg[name] = [min(cur[0], lo), max(cur[1], hi)]
        return agg

    def _write_parts(self, df: DataFrame) -> list[tuple[str, dict]]:
        """Materialize ``df`` as uniquely-named part files inside the table
        dir (written to a scratch dir, then hard-renamed in — renames are
        metadata-only). Returns (relative file name, footer stats) pairs;
        the stats ride in the commit's add action so readers prune files
        from the LOG, never by listing/footer-reading the table — the move
        that keeps planning O(log) instead of O(files) at lake scale."""
        scratch = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(scratch)
        names = []
        for fname in os.listdir(scratch):
            if not fname.endswith(".parquet"):
                continue
            new = f"part-{uuid.uuid4().hex}.parquet"
            dst = os.path.join(self.path, new)
            os.rename(os.path.join(scratch, fname), dst)
            names.append((new, self._file_stats(dst)))
        shutil.rmtree(scratch, ignore_errors=True)
        return names

    def _write_cdc(self, changes: DataFrame) -> list[str]:
        """Materialize a typed change frame (``_change_type`` column) under
        ``_changes/``; returns table-relative paths for the commit's cdc
        actions. Change files are provenance, not table data — snapshot
        resolution ignores them entirely."""
        scratch = os.path.join(self.path, f"_tmp-cdc-{uuid.uuid4().hex}")
        changes.write.mode("overwrite").parquet(scratch)
        os.makedirs(os.path.join(self.path, "_changes"), exist_ok=True)
        out = []
        for fname in os.listdir(scratch):
            if not fname.endswith(".parquet"):
                continue
            rel = os.path.join("_changes", f"cdc-{uuid.uuid4().hex}.parquet")
            os.rename(
                os.path.join(scratch, fname), os.path.join(self.path, rel)
            )
            out.append(rel)
        shutil.rmtree(scratch, ignore_errors=True)
        return out

    def stats_at(self, version: int | None = None) -> dict[str, dict]:
        """Live file -> footer-stats map at ``version`` (from the log)."""
        return self._snapshot_state(version)["files"]

    def prune_files(
        self, where: dict[str, tuple], version: int | None = None
    ) -> list[str]:
        """Files whose logged [min,max] overlaps every ``col: (lo, hi)``
        range in ``where`` (None bound = unbounded). Files lacking stats
        for a column are kept — pruning is an optimization, never a
        filter."""
        return self._prune_from_stats(self.stats_at(version), where)

    @staticmethod
    def _prune_from_stats(
        stats_map: dict[str, dict], where: dict[str, tuple]
    ) -> list[str]:
        import datetime

        enc = VersionedTable._encode_bound
        out = []
        for fname, stats in sorted(stats_map.items()):
            keep = True
            for col, (lo_raw, hi_raw) in where.items():
                if col not in stats:
                    continue
                # bounds arrive as runtime values (ints, dates, ...) —
                # encode them the same way the logged stats were; an
                # unencodable bound can't prune this column
                lo = enc(lo_raw) if lo_raw is not None else None
                hi = enc(hi_raw) if hi_raw is not None else None
                fmin, fmax = stats[col]
                # legacy logs (pre tz-normalization in _encode_bound) hold
                # tz-aware ISO stat strings; strip the UTC suffix so they
                # compare against naive bounds — but ONLY when the query
                # bound itself is datetime-derived. A genuine STRING column
                # may legitimately hold values ending in '+00:00' (ISO
                # strings from APIs); stripping those would sort the stat
                # below an exact-match bound and wrongly prune the file.
                # Each stat is stripped per the bound it compares against
                # (fmin vs hi, fmax vs lo).
                dt = (datetime.date, datetime.datetime)
                if (
                    isinstance(hi_raw, dt)
                    and isinstance(fmin, str)
                    and fmin.endswith("+00:00")
                ):
                    fmin = fmin[:-6]
                if (
                    isinstance(lo_raw, dt)
                    and isinstance(fmax, str)
                    and fmax.endswith("+00:00")
                ):
                    fmax = fmax[:-6]
                if (hi is not None and fmin > hi) or (lo is not None and fmax < lo):
                    keep = False
                    break
            if keep:
                out.append(fname)
        return out

    @staticmethod
    def _observed_snapshot(df: DataFrame, key0: str):
        """ONE eager local checkpoint of ``df`` plus, from an observation
        riding that same job, the ``keys[0]`` (lo, hi) of its (possibly
        duplicated) rows and whether any key is NULL — None for an empty
        frame. Returns (snapshot, bounds). The checkpoint must be eager:
        an observation under a lazy checkpoint reports zero rows."""
        obs = Observation()
        snap = df.observe(
            obs,
            F.min(key0).alias("lo"),
            F.max(key0).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.count(key0).alias("n_nonnull"),
        ).localCheckpoint(eager=True)
        m = obs.get
        if m["n"] == 0:
            return snap, None
        return snap, (m["lo"], m["hi"], m["n_nonnull"] < m["n"])

    def _touched(self, state: dict, key0: str, bounds: tuple) -> list[str]:
        """The live files whose logged ``keys[0]`` [min,max] overlaps the
        key bounds. NULL-key rows match null-safely (see _null_safe_on) but
        parquet min/max stats ignore NULLs — a file holding a NULL-key row
        can sit entirely outside [lo,hi], so any NULL key disables pruning
        and every file is touched."""
        lo, hi, any_null = bounds
        if any_null or self._encode_bound(lo) is None:
            return sorted(state["files"])
        return self._prune_from_stats(state["files"], {key0: (lo, hi)})

    def _read_files(self, files: list[str], evolved: bool) -> DataFrame:
        """Read table-relative part files. An evolved snapshot is read with
        mergeSchema (a plain multi-file read takes ONE footer's schema and
        would silently drop evolved columns). Otherwise the reader gets the
        Spark schema Spark embeds in every parquet footer it writes, taken
        from the file inference would read (the first by path), so no
        schema-inference job runs; a file without it keeps inference."""
        paths = [os.path.join(self.path, f) for f in files]
        reader = self.spark.read
        if evolved:
            reader = reader.option("mergeSchema", "true")
        else:
            schema = _footer_schema(min(paths))
            if schema is not None:
                reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read(
        self, version: int | None = None, where: dict[str, tuple] | None = None
    ) -> DataFrame:
        """Snapshot read; ``where={col: (lo, hi)}`` additionally skips files
        by the log's stats index (caller still applies the row-level
        filter — skipping only shrinks the file list, like Delta data
        skipping). An empty surviving set returns an empty frame with the
        table's schema. Tables whose log records a schema evolution are
        read with ``mergeSchema`` so pre-evolution files surface NULLs for
        later-added columns."""
        state = self._snapshot_state(version)
        files = sorted(state["files"])
        if not files:
            raise FileNotFoundError(f"no committed data in {self.path}")
        evolved = state["schema_evolved"]
        if where:
            pruned = set(self._prune_from_stats(state["files"], where))
            kept = [f for f in files if f in pruned]
            if not kept:
                schema = self._read_files(files, evolved).schema
                return self.spark.createDataFrame([], schema)
            files = kept
        return self._read_files(files, evolved)

    def exists(self) -> bool:
        return self.latest_version() is not None

    # -- transactions --------------------------------------------------------

    # (no _next_version helper on purpose: every transaction computes
    # base+1 inline against the snapshot it validated — a floating
    # "next version" lookup is exactly the lost-update race the commit
    # paths' comments warn about, and a convenient helper would invite it)

    def _check_schema(
        self,
        df: DataFrame,
        schema_evolution: bool,
        state: dict | None = None,
        verb: str = "writing to",
    ) -> None:
        """Fail loudly when ``df``'s column set diverges from the table's
        (tracked in the log) unless evolution was explicitly requested —
        a column typo must not silently fork the schema. Pass an already-
        resolved ``state`` to validate against a specific snapshot (and
        avoid re-resolving one)."""
        known = (state or self._snapshot_state())["columns"]
        if (
            not schema_evolution
            and known is not None
            and sorted(df.columns) != known
        ):
            raise ValueError(
                f"schema drift {verb} {self.path}: table has {known}, "
                f"batch has {sorted(df.columns)} — pass "
                "schema_evolution=True to evolve"
            )

    def _abort_adds(self, actions: list[dict]) -> None:
        """Best-effort removal of this transaction's staged part/cdc files
        after a lost commit race — they are unreferenced by any snapshot,
        so leaving them would only defer the cleanup to vacuum."""
        for a in actions:
            for key in ("add", "cdc"):
                if key in a:
                    try:
                        os.remove(os.path.join(self.path, a[key]))
                    except OSError:
                        pass

    def append(
        self,
        df: DataFrame,
        max_retries: int = 5,
        schema_evolution: bool = False,
    ) -> int:
        """O(1) append: new files + an add-only commit. Appends commute, so
        a lost race is resolved by re-committing the same adds at the next
        version. A batch whose column set differs from the table's fails
        loudly unless ``schema_evolution=True`` (readers then switch to
        mergeSchema via the log's column tracking). The schema check
        re-runs on EVERY attempt against the then-current snapshot — a
        concurrent overwrite can legally re-base the column set between
        attempts, and committing stale columns meta past it would
        silently fork the schema."""
        os.makedirs(self.path, exist_ok=True)
        adds = None
        try:
            for _ in range(max_retries):
                # pin the attempt to the snapshot the schema was checked
                # against: committing at a floating next-version lookup
                # would let an interleaved overwrite re-base the columns
                # between check and commit WITHOUT a conflict — pinned at
                # base+1, any interleaving raises and the next attempt
                # re-checks
                base = self.latest_version()
                state = self._snapshot_state(base) if base is not None else None
                self._check_schema(df, schema_evolution, state=state)
                if adds is None:  # parts are content, not state: write once
                    adds = [
                        {"add": n, "stats": st}
                        for n, st in self._write_parts(df)
                    ]
                    adds.append({"meta": {"columns": sorted(df.columns)}})
                try:
                    v = 0 if base is None else base + 1
                    self._commit(v, adds)
                    return v
                except CommitConflict:
                    continue
        except BaseException:
            # a RETRY attempt can raise after parts were staged (e.g. a
            # concurrent overwrite re-based the columns and the re-check
            # now fails) — without this, the staged part files leak until
            # a vacuum past retention happens, or forever on an
            # unvacuumed table
            self._abort_adds(adds or [])
            raise
        self._abort_adds(adds or [])
        raise CommitConflict("append retries exhausted")

    def last_txn(self, app_id: str) -> int | None:
        """Highest committed batch id for ``app_id`` (txn high-water mark;
        checkpointed, so the lookup replays only the log tail)."""
        return self._snapshot_state()["txn"].get(app_id)

    def append_txn(
        self,
        df: DataFrame,
        app_id: str,
        batch_id: int,
        schema_evolution: bool = False,
    ) -> int | None:
        """Idempotent append: the commit records ``{"txn": {app, batch}}``;
        re-delivery of an already-committed batch is a no-op (returns
        None). This is the exactly-once primitive under Structured
        Streaming's ``foreachBatch`` — at-least-once delivery + transactional
        dedup on (app_id, batch_id), the same contract Delta's txn action
        provides. The check re-runs after every lost commit race, so two
        writers re-delivering the same batch cannot both land it."""
        os.makedirs(self.path, exist_ok=True)
        last = self.last_txn(app_id)
        if last is not None and batch_id <= last:
            return None  # cheap early-out before the write job
        self._check_schema(df, schema_evolution)
        adds: list[dict] = [
            {"add": n, "stats": st} for n, st in self._write_parts(df)
        ]
        adds.append({"meta": {"columns": sorted(df.columns)}})
        adds.append({"txn": {"app": app_id, "batch": batch_id}})
        try:
            for _ in range(5):
                # the dedup guarantee lives HERE, not in the early-out: the
                # txn mark is checked against the snapshot at base and the
                # commit pins base+1, so a twin landing the same batch after
                # our check raises CommitConflict and the recheck sees its
                # marker. A floating next-version commit would let both
                # twins land (different version numbers — no conflict)
                base = self.latest_version()
                state = self._snapshot_state(base) if base is not None else None
                if state is not None:
                    last = state["txn"].get(app_id)
                    if last is not None and batch_id <= last:
                        self._abort_adds(adds)  # lost to a twin
                        return None
                    self._check_schema(df, schema_evolution, state=state)
                try:
                    v = 0 if base is None else base + 1
                    self._commit(v, adds)
                    return v
                except CommitConflict:
                    continue
        except BaseException:
            # retry-attempt raises (schema re-check against a re-based
            # snapshot) must not leak the staged txn-marked parts
            self._abort_adds(adds)
            raise
        self._abort_adds(adds)
        raise CommitConflict("append_txn retries exhausted")

    def append_if_absent(self, batch: DataFrame, keys: list[str]) -> DataFrame:
        """K7 history capture, ``ParquetTable.append_if_absent``'s contract:
        append only the batch rows (deduplicated on ``keys``) whose key is
        not yet live — matched null-safely, as ``dropDuplicates`` treats
        NULL keys as equal — and return that appended delta. One add-only
        commit on the exact snapshot the anti-join read (base + 1), so an
        interleaved commit raises CommitConflict instead of landing a key
        twice; re-run on the fresh snapshot."""
        os.makedirs(self.path, exist_ok=True)
        delta = batch.dropDuplicates(keys)
        base = self.latest_version()
        state = self._snapshot_state(base) if base is not None else None
        self._check_schema(delta, False, state=state)
        if state is not None and state["files"]:
            live = self._read_files(
                sorted(state["files"]), state["schema_evolved"]
            ).select(*keys)
            delta = delta.join(
                live, on=_null_safe_on(delta, live, keys), how="left_anti"
            )
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(delta)]
        adds.append({"meta": {"columns": sorted(delta.columns)}})
        try:
            self._commit(0 if base is None else base + 1, adds)
        except CommitConflict:
            self._abort_adds(adds)
            raise
        return delta

    def _feed_versions(self, from_version: int, to_version: int) -> list[int]:
        """Commit versions serving a feed over ``(from_version,
        to_version]`` — with consecutive-version continuity enforced, so an
        expired commit in the range fails loudly instead of vanishing from
        the feed silently."""
        if to_version is None:
            # both feed entry points default to_version to latest_version();
            # on a never-committed table that is None, and range() over it
            # is an opaque TypeError — say what actually happened
            raise FileNotFoundError(
                f"change feed of {self.path}: table has no commits"
            )
        latest = self.latest_version()
        if latest is None or to_version > latest:
            # fail loudly like _snapshot_state does for future versions:
            # silently clamping would let a polling consumer advance its
            # cursor past commits that don't exist yet and skip them
            # forever once they land
            raise FileNotFoundError(
                f"change feed upper bound {to_version} of {self.path} does "
                f"not exist (latest: {latest})"
            )
        present = [
            v for v in self._versions() if from_version < v <= to_version
        ]
        if present != list(range(from_version + 1, to_version + 1)):
            raise FileNotFoundError(
                f"change feed ({from_version}, {to_version}] of {self.path} "
                "crosses commits expired by expire_log"
            )
        return present

    def changes_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Typed change-data feed over ``(from_version, to_version]`` —
        every row carries ``_change_type`` ∈ {insert, update_preimage,
        update_postimage, delete}, Delta CDF's contract. Per commit:

        * cdc actions present (the table committed with ``enable_cdc``) →
          read the recorded change files;
        * pure append → the added files, typed ``insert``;
        * ``logical_noop`` marker (optimize re-layout) → skipped, the feed
          works straight through compaction;
        * any other rewrite (merge/delete/overwrite committed WITHOUT cdc,
          or restore) → loud error: row-level provenance wasn't recorded.

        Cost tracks the delta: only the range's change/add files are read,
        never the table."""
        to_version = self.latest_version() if to_version is None else to_version
        frames = []
        for v in self._feed_versions(from_version, to_version):
            actions = self._actions(v)
            if any(a.get("meta", {}).get("logical_noop") for a in actions):
                continue
            cdc = [a["cdc"] for a in actions if "cdc" in a]
            if cdc:
                frames.append(
                    self.spark.read.parquet(
                        *[os.path.join(self.path, f) for f in cdc]
                    )
                )
                continue
            if any("remove" in a for a in actions):
                raise ValueError(
                    f"version {v} of {self.path} rewrites files without "
                    "recorded CDC (committed with enable_cdc=False, or a "
                    "restore) — typed feed unavailable across it"
                )
            adds = [a["add"] for a in actions if "add" in a]
            if adds:
                frames.append(
                    self.spark.read.parquet(
                        *[os.path.join(self.path, f) for f in adds]
                    ).withColumn("_change_type", F.lit("insert"))
                )
        if not frames:
            return (
                self.read(to_version)
                .limit(0)
                .withColumn("_change_type", F.lit(""))
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def changes_between(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change feed for append-only workloads: rows landed by commits in
        ``(from_version, to_version]`` — read straight from those commits'
        added files, so an incremental consumer's cost tracks the DELTA,
        never the table. Raises on rewrite commits in the range (merge /
        overwrite: their adds re-shuffle old rows, so file-level
        provenance no longer equals row-level inserts) — EXCEPT
        ``logical_noop`` re-layouts (optimize / compact_small: rows move,
        none change), which are skipped exactly as ``changes_feed`` skips
        them. Without the skip, routine weekly compaction would wedge
        every incremental consumer forever (the cursor only advances on a
        successful fold, so the same compaction commit re-raises on every
        subsequent run)."""
        to_version = self.latest_version() if to_version is None else to_version
        present = self._feed_versions(from_version, to_version)
        added: list[str] = []
        for v in present:
            actions = self._actions(v)
            if any(a.get("meta", {}).get("logical_noop") for a in actions):
                continue  # compaction: rows moved, none changed
            if any("remove" in a for a in actions):
                raise ValueError(
                    f"version {v} rewrites files; change feed is exact only "
                    "for append commits"
                )
            added.extend(a["add"] for a in actions if "add" in a)
        if not added:
            return self.read(to_version).limit(0)
        return self.spark.read.parquet(
            *[os.path.join(self.path, f) for f in added]
        )

    def overwrite(
        self, df: DataFrame, txn: tuple[str, int] | None = None
    ) -> int | None:
        """Truncate-refresh as one commit: add the new files, remove every
        file of the snapshot this transaction read. NOT auto-retried, and
        the commit targets ``base + 1`` where ``base`` is the snapshot
        the remove set was decided against — so ANY interleaved commit
        (not just one racing the same number) surfaces as CommitConflict
        instead of silently landing on a moved base and losing the
        interloper's update. A conflict must re-read
        (read-modify-write is not commutative); this transaction's staged
        files are cleaned up before the raise.

        ``txn=(app_id, batch_id)`` rides a txn action in the same commit,
        making the replace idempotent under replay (already-committed batch
        → no-op, returns None) — read-modify-write refreshes (e.g.
        incremental view folds) become exactly-once because the state
        replacement and the dedup marker are one atomic commit."""
        os.makedirs(self.path, exist_ok=True)
        base = self.latest_version()
        if txn is not None:
            # the marker is checked against the SAME snapshot the commit
            # pins (base): a twin landing between a latest-resolved check
            # and the base read would bypass the marker without a
            # CommitConflict — checked-at-base, any interleaving conflicts
            last = (
                self._snapshot_state(base)["txn"].get(txn[0])
                if base is not None
                else None
            )
            if last is not None and txn[1] <= last:
                return None
        removes = [{"remove": f} for f in (self.files_at(base) if base is not None else [])]
        cdc_actions: list[dict] = []
        if self.enable_cdc:
            old = (
                self.read(base).withColumn("_change_type", F.lit("delete"))
                if base is not None
                else None
            )
            new = df.withColumn("_change_type", F.lit("insert"))
            changes = (
                old.unionByName(new, allowMissingColumns=True)
                if old is not None
                else new
            )
            cdc_actions = [{"cdc": p} for p in self._write_cdc(changes)]
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(df)]
        # full replacement: homogeneous again, so re-base schema tracking
        adds.append({"meta": {"columns": sorted(df.columns), "reset": True}})
        if txn is not None:
            adds.append({"txn": {"app": txn[0], "batch": txn[1]}})
        v = 0 if base is None else base + 1
        try:
            self._commit(v, adds + removes + cdc_actions)
        except CommitConflict:
            self._abort_adds(adds + cdc_actions)
            raise
        return v

    def merge_upsert(
        self,
        batch: DataFrame,
        keys: list[str],
        schema_evolution: bool = False,
        broadcast_batch: bool = True,
        key_frame: DataFrame | None = None,
    ) -> int:
        """K1 upsert with snapshot semantics AND file-pruned rewrite.

        A matching row must agree with the batch on every key column, in
        particular ``keys[0]`` — so a file whose logged ``keys[0]``
        [min,max] doesn't overlap the batch's key range cannot contain a
        match and is left physically untouched. Only the overlapping files
        are anti-joined and rewritten (plus the batch), as one add+remove
        commit: merge cost tracks the AFFECTED data, not the table — on a
        key-clustered table (optimize/zorder) a small batch touches a few
        files out of millions. Readers at older versions still see their
        snapshot; time travel preserves the pre-merge state. Commits
        target the read snapshot's version + 1, so a concurrent commit
        raises CommitConflict (re-run the merge on the fresh snapshot)
        rather than silently overwriting the interloper's rows with
        pre-merge copies. An empty batch is a no-op.

        ``schema_evolution=True`` accepts a batch whose column set differs
        from the table's (APIs grow fields over versions): the union takes
        the superset, untouched files keep their old physical schema, and
        the commit carries a ``schema_evolved`` marker that switches
        readers to ``mergeSchema`` — old rows surface NULL for new
        columns, exactly Delta's ``mergeSchema`` write semantics. Without
        the flag a differing batch fails loudly (the safe default: a
        column typo should not silently fork the schema).

        ``key_frame`` widens the DELETE scope beyond the batch's keys
        (same contract as ``ParquetTable.merge_upsert``): existing rows
        whose key appears in ``key_frame`` are removed in the same commit
        even when the batch carries no replacement — the parent-key merge
        case where a parent's child set became empty upstream. The scope
        is key_frame ∪ batch keys, so batch rows always replace same-key
        rows regardless of the frame's contents; file pruning and the
        empty-no-op check run on that union. CDC records the purged-only
        keys as ``delete`` rows."""
        if not self.exists():
            return self.overwrite(batch)
        base = self.latest_version()
        state = self._snapshot_state(base)
        key0 = keys[0]
        # ONE consistent batch snapshot, taken by one eager job: the batch
        # rows and the key_frame's key projection are checkpointed together
        # (one union, batch rows tagged by a marker column), and the bounds
        # come from an observation on that job. The anti-join, the CDC
        # joins and the final union all read the snapshot, so a
        # non-deterministic upstream (live source, rand()) cannot give the
        # CDC records other rows than the commit, and the key_frame is
        # evaluated once. No distinct: the bounds ignore duplicates and so
        # do the semi/anti joins that read the delete key set.
        if key_frame is None:
            batch, bounds = self._observed_snapshot(batch, key0)
            delete_keys = batch.select(*keys)
        else:
            marker = f"_batch_{uuid.uuid4().hex}"
            snap, bounds = self._observed_snapshot(
                batch.withColumn(marker, F.lit(True)).unionByName(
                    key_frame.select(*keys).withColumn(marker, F.lit(False)),
                    allowMissingColumns=True,
                ),
                key0,
            )
            delete_keys = snap.select(*keys)
            # the union may widen a key column to the frame's type; the
            # batch keeps its own
            types = {f.name: f.dataType for f in batch.schema}
            batch = snap.filter(marker).drop(marker).withColumns(
                {k: F.col(k).cast(types[k]) for k in keys}
            )
        if bounds is None:
            return base  # nothing to insert or purge: snapshot IS the result
        touched = self._touched(state, key0, bounds)
        self._check_schema(batch, schema_evolution, state, verb="merging into")
        cdc_actions: list[dict] = []
        if touched:
            # honor mergeSchema on evolved tables: a plain multi-file read
            # takes ONE footer's schema and would silently drop the
            # evolved columns from the rewritten survivors
            existing = self._read_files(touched, state["schema_evolved"])
            # broadcast fits the incremental-batch case; pass
            # broadcast_batch=False for mega-batches (backfills) so the
            # anti-join shuffles instead of materializing the key set on
            # every executor
            anti_rhs = F.broadcast(delete_keys) if broadcast_batch else delete_keys
            # null-safe key match, same contract as ParquetTable.merge_upsert:
            # a NULL-key batch row must REPLACE its existing NULL-key twin,
            # not append a duplicate on every re-run (divergent idempotency
            # between the two sinks behind the merge_table seam otherwise)
            survivors = existing.join(
                anti_rhs, on=_null_safe_on(existing, anti_rhs, keys), how="left_anti"
            )
            merged = survivors.unionByName(
                batch, allowMissingColumns=schema_evolution
            )
            if self.enable_cdc:
                pre_all = existing.join(
                    anti_rhs, _null_safe_on(existing, anti_rhs, keys), "left_semi"
                )
                if key_frame is not None:
                    # purged-only keys (in the frame, absent from the
                    # batch) are true deletes, not update pre-images
                    batch_keys = batch.select(*keys)
                    bkeys = (
                        F.broadcast(batch_keys) if broadcast_batch else batch_keys
                    )
                    pre = pre_all.join(
                        bkeys, _null_safe_on(pre_all, bkeys, keys), "left_semi"
                    ).withColumn("_change_type", F.lit("update_preimage"))
                    dels = pre_all.join(
                        bkeys, _null_safe_on(pre_all, bkeys, keys), "left_anti"
                    ).withColumn("_change_type", F.lit("delete"))
                else:
                    pre = pre_all.withColumn(
                        "_change_type", F.lit("update_preimage")
                    )
                    dels = None
                ex_keys = existing.select(*keys)
                post = batch.join(
                    ex_keys, _null_safe_on(batch, ex_keys, keys), "left_semi"
                ).withColumn("_change_type", F.lit("update_postimage"))
                ins = batch.join(
                    ex_keys, _null_safe_on(batch, ex_keys, keys), "left_anti"
                ).withColumn("_change_type", F.lit("insert"))
                changes = pre.unionByName(
                    post, allowMissingColumns=True
                ).unionByName(ins, allowMissingColumns=True)
                if dels is not None:
                    changes = changes.unionByName(
                        dels, allowMissingColumns=True
                    )
                cdc_actions = [
                    {"cdc": p} for p in self._write_cdc(changes)
                ]
        else:
            merged = batch
            if self.enable_cdc:
                cdc_actions = [
                    {"cdc": p}
                    for p in self._write_cdc(
                        batch.withColumn("_change_type", F.lit("insert"))
                    )
                ]
        removes = [{"remove": f} for f in touched]
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(merged)]
        adds.append({"meta": {"columns": sorted(merged.columns)}})
        # read-modify-write: commit on the EXACT base the remove set and
        # anti-join were decided against — any interleaved commit raises
        # CommitConflict instead of silently resurrecting pre-merge rows
        # over the interloper's update (lost-update anomaly)
        try:
            self._commit(base + 1, adds + removes + cdc_actions)
        except CommitConflict:
            self._abort_adds(adds + cdc_actions)
            raise
        return base + 1

    def delete_matching(
        self,
        keys_df: DataFrame,
        keys: list[str],
        broadcast_keys: bool = True,
    ) -> int:
        """Hard-delete every row whose key appears in ``keys_df`` (GDPR
        erasure) with the same file pruning as ``merge_upsert``: files
        whose logged ``keys[0]`` [min,max] can't contain a requested key
        are left physically untouched, so on a key-clustered table the
        erasure cost tracks the affected files, not the table. One atomic
        add+remove commit; idempotent (re-running with the same request
        set is a no-op commit-free pass). Returns rows removed."""
        if not self.exists():
            return 0
        base = self.latest_version()
        state = self._snapshot_state(base)
        key0 = keys[0]
        # ONE consistent request snapshot (merge_upsert's rule): the key
        # set feeds the removed count, the CDC delete records and the
        # survivors anti-join write, and the bounds are observed on the
        # checkpoint job itself. Without the checkpoint a non-deterministic
        # upstream is re-evaluated per action, and the committed
        # survivors can disagree with the CDC audit trail and the
        # returned count — for a GDPR-erasure primitive, the audit
        # evidence MUST match the rows actually removed.
        rhs, bounds = self._observed_snapshot(keys_df.select(*keys), key0)
        if bounds is None:
            return 0  # empty request set: nothing to erase
        touched = self._touched(state, key0, bounds)
        if not touched:
            return 0
        existing = self._read_files(touched, state["schema_evolved"])
        del_rhs = F.broadcast(rhs) if broadcast_keys else rhs
        # null-safe match: a NULL-key erasure request must find its row
        removed_rows = existing.join(
            del_rhs, on=_null_safe_on(existing, del_rhs, keys), how="left_semi"
        )
        removed = removed_rows.count()
        if not removed:
            return 0
        survivors = existing.join(
            del_rhs, on=_null_safe_on(existing, del_rhs, keys), how="left_anti"
        )
        cdc_actions: list[dict] = []
        if self.enable_cdc:
            cdc_actions = [
                {"cdc": p}
                for p in self._write_cdc(
                    removed_rows.withColumn("_change_type", F.lit("delete"))
                )
            ]
        removes = [{"remove": f} for f in touched]
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(survivors)]
        adds.append({"meta": {"columns": sorted(survivors.columns)}})
        # same read-modify-write rule as merge_upsert: commit on the read
        # base or conflict loudly
        try:
            self._commit(base + 1, adds + removes + cdc_actions)
        except CommitConflict:
            self._abort_adds(adds + cdc_actions)
            raise
        return removed

    def compact_small(
        self,
        min_file_bytes: int = 32 << 20,
        target_file_bytes: int = 128 << 20,
    ) -> int | None:
        """Incremental OPTIMIZE: bin-pack ONLY files smaller than
        ``min_file_bytes`` into ~``target_file_bytes`` files; files
        already right-sized are physically untouched and keep their
        logged stats. This is the nightly maintenance pass a lake
        actually runs — streaming/micro-batch appends grow a small-file
        backlog daily, and a full ``optimize`` is O(table) where this is
        O(backlog): on a 100 TB table with a few GB of overnight
        appends, the difference between a minutes-long pass and a
        full-table rewrite. Returns the committed version, or None when
        fewer than two small files exist (nothing to pack — a single
        small file stays until it has company, so repeated runs are
        no-op-idempotent). One add+remove commit with the
        ``logical_noop`` marker (rows move, none change: the CDC feed
        skips it, like ``optimize``); an interleaved commit raises
        CommitConflict — re-run (appends commute, the backlog is simply
        re-listed).

        Z-order note: packed files merge whatever key ranges the small
        files held, so their [min,max] stats widen — clustering quality
        is ``optimize(zorder_by=…)``'s job on its (rarer) full-table
        cadence; this pass only pays down file-count debt between
        those."""
        base = self.latest_version()
        if base is None:
            return None
        state = self._snapshot_state(base)
        sizes = {
            f: os.path.getsize(os.path.join(self.path, f))
            for f in state["files"]
        }
        small = sorted(f for f, s in sizes.items() if s < min_file_bytes)
        if len(small) < 2:
            return None
        total = sum(sizes[f] for f in small)
        n_out = max(1, round(total / target_file_bytes))
        df = self._read_files(small, state["schema_evolved"]).repartition(n_out)
        removes = [{"remove": f} for f in small]
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(df)]
        adds.append({"meta": {"logical_noop": True}})
        try:
            self._commit(base + 1, adds + removes)
        except CommitConflict:
            self._abort_adds(adds)
            raise
        return base + 1

    def optimize(
        self,
        target_files: int = 8,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: rewrite the current snapshot into ``target_files``
        right-sized files — optionally Z-order-clustered on ``zorder_by``
        (ops/layout.py) so the log's stats index prunes on every clustered
        column — as one add+remove commit targeting the read snapshot's
        version + 1. Time travel to the pre-optimize version still works
        until vacuumed. An append interleaving with the re-layout makes
        THIS commit raise CommitConflict (re-run optimize — its rows
        would otherwise vanish from the rewritten snapshot); an appender
        losing its own race just retries on top (appends commute with
        re-layout)."""
        base = self.latest_version()
        df = self.read(base)
        if zorder_by:
            from ..ops.layout import zorder_layout

            df = zorder_layout(df, zorder_by, target_files)
        else:
            df = df.repartition(target_files)
        removes = [{"remove": f} for f in self.files_at(base)]
        adds = [{"add": n, "stats": st} for n, st in self._write_parts(df)]
        # re-layout moves rows between files but changes none: the typed
        # change feed skips commits carrying this marker. Every file is
        # rewritten with the full (merged) schema, so schema tracking
        # re-bases — an evolved table turns homogeneous again here.
        adds.append({"meta": {"logical_noop": True}})
        adds.append({"meta": {"columns": sorted(df.columns), "reset": True}})
        v = 0 if base is None else base + 1
        try:
            self._commit(v, adds + removes)
        except CommitConflict:
            self._abort_adds(adds)
            raise
        return v

    def history(self) -> list[dict]:
        """Commit audit trail, newest first: version, commit ts, add/remove
        counts, txn marker — DESCRIBE HISTORY for this log. Lists only
        surviving commit files (``expire_log`` trims the tail)."""
        out = []
        for v in reversed(self._versions()):
            with open(os.path.join(self.log_path, f"{v:012d}.json")) as f:
                entry = json.load(f)
            acts = entry["actions"]
            out.append(
                {
                    "version": v,
                    "ts": entry.get("ts"),
                    "n_add": sum(1 for a in acts if "add" in a),
                    "n_remove": sum(1 for a in acts if "remove" in a),
                    "txn": next(
                        (a["txn"] for a in acts if "txn" in a), None
                    ),
                }
            )
        return out

    def version_at_time(self, ts: float) -> int:
        """Newest version committed at-or-before ``ts`` (unix seconds) —
        timestamp-based time travel: ``t.read(t.version_at_time(ts))``.
        Resolved from surviving commit files' recorded commit times;
        raises if ``ts`` predates the surviving history (expired or
        never-existed). Scans EVERY surviving commit instead of
        early-breaking: commit timestamps are writers' wall clocks, not
        guaranteed monotone across versions (NTP step-back, multi-writer
        skew), and a break at the first ts > target would silently skip
        a newer version whose skewed clock stamped it earlier."""
        best = None
        for v in self._versions():
            with open(os.path.join(self.log_path, f"{v:012d}.json")) as f:
                commit_ts = json.load(f).get("ts", 0.0)
            if commit_ts <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no commit of {self.path} at-or-before ts={ts} survives"
            )
        return best

    def restore(self, version: int) -> int:
        """RESTORE: make ``version``'s state current again as a NEW commit
        (re-add its files, remove the current snapshot's extras) — metadata
        only, no data movement, like Delta RESTORE. The bad-deploy rollback
        primitive: history is preserved, so the mistake remains auditable
        and the restore is itself restorable. Raises if the target
        version's files were already vacuumed. A ``schema_evolved`` flag
        stays set even when restoring to a pre-evolution state (the flag
        is monotonic; mergeSchema on a homogeneous table is only a spare
        footer pass, never wrong) — but the COLUMN tracking re-bases to
        the restored snapshot's columns: the physical files are now the
        target's, and keeping the newer column set would let a
        post-restore append commit a wider batch against narrow files
        with no evolution marker — a mixed snapshot read WITHOUT
        mergeSchema silently drops the extra columns."""
        tstate = self._snapshot_state(version)
        target = tstate["files"]
        for f in target:
            full = os.path.join(self.path, f)
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"cannot restore {self.path} to version {version}: "
                    f"file {f} was vacuumed"
                )
            # bump mtime: the re-added files are OLD (unreferenced by
            # recent snapshots), so a vacuum running between this check
            # and the commit would otherwise delete them — the touch puts
            # them inside vacuum's retention_sec grace window, the same
            # protection a writer's freshly staged parts get
            try:
                os.utime(full, None)
            except OSError:
                pass
        base = self.latest_version()
        cur_state = self._snapshot_state(base)
        current = cur_state["files"]
        adds = [
            {"add": f, "stats": st}
            for f, st in sorted(target.items())
            if f not in current
        ]
        removes = [{"remove": f} for f in sorted(current) if f not in target]
        meta: list[dict] = []
        if tstate["columns"] is not None:
            meta.append(
                {"meta": {"columns": tstate["columns"], "reset": True}}
            )
        if tstate["schema_evolved"] or cur_state["schema_evolved"]:
            # re-assert AFTER the reset: the flag stays monotonic
            meta.append({"meta": {"schema_evolved": True}})
        v = 0 if base is None else base + 1
        self._commit(v, adds + removes + meta)
        return v

    # -- maintenance ---------------------------------------------------------

    def vacuum(
        self, retain_versions: int = 1, retention_sec: float = 3600.0
    ) -> list[str]:
        """Delete part files unreferenced by the ``retain_versions`` most
        recent snapshots (older time travel stops working — the trade every
        lakehouse vacuum makes). Files younger than ``retention_sec`` are
        NEVER deleted even when unreferenced: a concurrent writer stages
        its parts into the table dir BEFORE its commit, so without the
        grace window vacuum could destroy a transaction's files in the
        gap between write and commit and poison the snapshot it then
        publishes (Delta's retention check; same guard as
        ``ParquetTable.vacuum``). Crash-orphaned scratch (``_tmp-*``
        staging dirs here, any ``_tmp-*`` temp in the log — commit
        claims AND checkpoint temps) is swept
        under the same grace window — without this a writer dying
        mid-write leaks its staging forever (nothing else ever deletes
        non-``*.parquet`` names). Returns the deleted file names."""
        if retain_versions < 1:
            # vs[-0:] is the WHOLE list — "retain zero snapshots" would
            # silently keep every file, the opposite of the ask
            raise ValueError(
                f"retain_versions must be >= 1, got {retain_versions} "
                "(the latest snapshot's files are always live)"
            )
        vs = self._versions()
        if not vs:
            return []
        keep: set[str] = set()
        # unresolvable retained versions (older than an expire_log
        # horizon) contribute no live files; skip rather than crash the
        # whole maintenance pass
        for v in vs[-retain_versions:]:
            try:
                keep.update(self.files_at(v))
            except FileNotFoundError:
                continue
        now = time.time()
        deleted = []
        for fname in os.listdir(self.path):
            full = os.path.join(self.path, fname)
            if fname.startswith("_tmp-") and os.path.isdir(full):
                # crash-orphaned staging dir (writer died mid-_write_parts)
                try:
                    if now - os.path.getmtime(full) < retention_sec:
                        continue
                    shutil.rmtree(full)
                    deleted.append(fname)
                except OSError:
                    pass
                continue
            if not fname.endswith(".parquet") or fname in keep:
                continue
            try:
                if now - os.path.getmtime(full) < retention_sec:
                    continue  # possibly a not-yet-committed transaction
                os.remove(full)
            except OSError:
                continue  # already gone (concurrent vacuum)
            deleted.append(fname)
        # log-side scratch: a writer that died between json.dump and the
        # atomic claim leaves temps behind — _tmp-commit-* (hard-link
        # commit claim) AND _tmp-cp-* (checkpoint os.replace); sweep any
        # _tmp- prefix so no temp class leaks forever
        if os.path.isdir(self.log_path):
            for fname in os.listdir(self.log_path):
                if not fname.startswith("_tmp-"):
                    continue
                full = os.path.join(self.log_path, fname)
                try:
                    if now - os.path.getmtime(full) >= retention_sec:
                        os.remove(full)
                        deleted.append(fname)
                except OSError:
                    pass
        return sorted(deleted)
