"""How directories change on disk, and the per-corpus artifact store
built on it.

Every directory the engine rewrites goes through three functions here,
so "a rewrite leaves the old copy or the new copy, never neither" is
implemented once:

* :func:`publish` ``(final, fill)`` creates a new immutable directory:
  ``fill`` populates a private staging dir, which is renamed to
  ``final``. A writer that loses the rename race discards its copy and
  keeps the winner's.
* :func:`replace` ``(live, staged)`` swaps a fully written staging dir
  (from :func:`staging`) in for ``live``: the live dir is renamed
  aside, the staged one renamed in, then the aside copy is deleted. A
  file (a pointer) is renamed over its live copy in one step.
* :func:`recover` ``(path)`` runs before a rewrite: it restores a live
  dir stranded aside by a crash and deletes stale staging and aside
  entries, for ``path`` and for the entries directly inside it.

Staging and aside entries are named ``.<name>.staging-<id>`` and
``.<name>.aside-<id>`` beside ``<name>``. The dot prefix makes Spark's
path filter skip them, so a swap inside a partitioned table root is
never discovered as a bogus partition.

The store. Curation pipelines share intermediates (the candidate-pair
frame, the trained IVF quantizer, per-doc score frames, census values)
that are pure functions of a corpus. Rebuilding them per consumer or
per process would dominate the small queries that read them, so this
module is the one store for them, in three shapes:

* :func:`corpus_artifact` — DataFrames, persisted as parquet plus a
  schema sidecar (so empty frames and exact types round-trip);
* :func:`census_artifact` — driver-side values that are O(model),
  never O(rows), persisted as JSON (data only: loading one runs no
  code, and it reads back the same under any Python or numpy build);
* :func:`artifact_directory` — artifacts that ARE a directory tree (the
  on-disk IVF index, streaming landing folders).

All three go through one path, :func:`_build_once`: the session memo,
then disk, then ``build()`` — run at most once per key across threads
and processes, because an ``flock`` on a per-artifact lock file makes
concurrent consumers wait for the first builder instead of paying the
build twice. A Linux ``flock`` belongs to an open file description, so
two ``open()`` calls in one process exclude each other just as two
processes do: :func:`lock` is the one lock primitive for every
directory the engine shares (the stream checkpoints use it too).

Keying is what makes silent staleness impossible. A generation lives
at ``<root>/<corpus-tag>/<name>-<gen>/``, where ``gen`` is a 64-bit
sha1 prefix over

* a fingerprint of the corpus (every file's path, size, mtime and
  ctime), taken afresh at every lookup, so a corpus appended to or
  regenerated under the same path misses at once, by any writer; and
* a digest of this package's ``*.py`` sources, so an artifact built by
  different engine code misses — no hand-kept version to forget.

When a generation lands, its superseded siblings (older fingerprints,
older engine code, orphaned staging dirs) are removed; tags whose
corpus directory vanished are swept once per process. Two checkouts of
different code sharing one root therefore rebuild after each other
rather than serve each other's artifacts.

The root is ``$PTAE_ARTIFACT_DIR`` or a per-user cache dir, never
inside the corpus: test corpora are read-only, and a sidecar inside a
corpus would perturb the fingerprint that keys it. If the root cannot
be created, a per-process temp root takes its place.

Frames are served as lazy parquet scans with the sidecar's schema, so
serving one launches no Spark job and a lost executor re-reads its
share of the files. Two guards keep a scan as safe as a materialized
copy:

* a corrupt copy must fail here, inside the build lock where it can be
  rebuilt, not later inside a consumer. Serving reads every part's
  footer (no data pages) and checks that the row counts add up to the
  count the sidecar recorded at publish, so a truncated or lost part
  file is removed and rebuilt;
* a generation must outlive its superseding while a consumer in any
  process still scans it. A session serving a frame holds a shared
  lock on the generation's ``_meta.json`` for as long as its memo
  entry lives; eviction tries an exclusive non-blocking lock on each
  sibling and skips one that is held, so the next landing after every
  memo has moved on removes it. Census and directory generations have
  no sidecar and are not pinned: a census is read whole when served,
  but a directory can be evicted by a landing in another process
  while a consumer here still scans it.

The memo lives on the session object, so a dropped session is
collected with its frames, and a finalizer closes its pins; a weak
set of sessions lets a bare :func:`clear_artifacts` reach every memo.
Only small post-aggregation frames belong here: persisting a
pre-shuffle exploded frame would trade cheap recompute for I/O.
"""

from __future__ import annotations

import atexit
import fcntl
import json
import os
import re
import shutil
import tempfile
import threading
import time
import uuid
import weakref
from hashlib import sha1
from pathlib import Path
from typing import Callable, TextIO

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_ROOT_ENV = "PTAE_ARTIFACT_DIR"
# A frame generation's sidecar: its schema and row count, and the file
# a serving session pins with a shared lock.
_META = "_meta.json"


def _source_digest(pkg_dir: str) -> str:
    """Digest of every ``*.py`` file under ``pkg_dir``: file contents
    only (never mtimes, so every checkout of the same code agrees), in
    sorted path order, each length-prefixed so bytes cannot shift
    between neighbouring files unnoticed."""
    h = sha1()
    for p in sorted(Path(pkg_dir).rglob("*.py")):
        data = p.read_bytes()
        h.update(len(data).to_bytes(8, "little"))
        h.update(data)
    return h.hexdigest()


_SOURCE_DIGEST = _source_digest(os.path.dirname(os.path.abspath(__file__)))

# Guards the dicts below. Consumers run concurrently (the bench issues
# sibling queries on one session from a thread pool).
_LOCK = threading.Lock()
# Each session's memo, {(sf_dir, stem): (generation path, served
# value)}, and its pins, {(sf_dir, stem): open _meta.json}, are an
# attribute of the session: a served frame refers back to its
# session, so a memo held in a module-level map keyed by the session
# would keep the session alive forever. The weak set only lets
# clear_artifacts find the live memos.
_MEMO_ATTR = "_ptae_artifact_memo"
_SESSIONS: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()
_MISS = object()

# Measured build cost per artifact stem, in seconds, cumulative across
# corpora in this process; `bench.py --price-builds` reports it.
BUILD_SECONDS: dict[str, float] = {}


def _corpus_fingerprint(sf_dir: str) -> str:
    """sha1 over every file's (relative path, size, mtime_ns, ctime_ns)
    under ``sf_dir``: O(files) stat calls, no data reads. The ctime
    changes on any write or ``utime``, so a rewrite that restores size
    and mtime still changes the key."""
    h = sha1()
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            rec = (
                f"{os.path.relpath(p, sf_dir)}:{st.st_size}:"
                f"{st.st_mtime_ns}:{st.st_ctime_ns}\n"
            )
            h.update(rec.encode())
    return h.hexdigest()


def lock(path: str, how: int = fcntl.LOCK_EX) -> TextIO | None:
    """``path`` opened and ``flock``-ed with ``how``; closing or
    dropping the returned file releases the lock. A blocking exclusive
    lock creates the file, and raises if its directory is gone. A
    shared lock or a ``LOCK_NB`` probe opens an existing file only,
    and returns None if it is missing or the lock is held."""
    try:
        fh = open(path, "a" if how == fcntl.LOCK_EX else "r")
    except FileNotFoundError:
        if how == fcntl.LOCK_EX:
            raise
        return None
    try:
        fcntl.flock(fh, how)
    except BlockingIOError:
        fh.close()
        return None
    return fh


# ---------------------------------------------------------------- disk

_GC_DONE = False
_TEMP_ROOT: str | None = None


def artifact_root() -> str:
    """The disk store root: ``$PTAE_ARTIFACT_DIR`` if set to a path,
    else a per-user cache dir; a per-process temp root if that cannot be
    created. The first call per process sweeps corpus tags whose source
    directory vanished (pytest tmp corpora from earlier runs)."""
    global _GC_DONE, _TEMP_ROOT
    root = os.environ.get(_ROOT_ENV) or os.path.join(
        os.path.expanduser("~"),
        ".cache",
        "prueba_tecnica_analista_etl_spark",
        "artifacts",
    )
    try:
        os.makedirs(root, exist_ok=True)
    except OSError:
        with _LOCK:
            if _TEMP_ROOT is None:
                _TEMP_ROOT = tempfile.mkdtemp(prefix="ptae_artifacts_")
                atexit.register(shutil.rmtree, _TEMP_ROOT, True)
        root = _TEMP_ROOT
    if not _GC_DONE:
        _GC_DONE = True
        _gc_vanished_corpora(root)
    return root


def _gc_vanished_corpora(root: str) -> None:
    try:
        tags = os.listdir(root)
    except OSError:
        return
    for tag in tags:
        marker = os.path.join(root, tag, "_corpus_path")
        try:
            with open(marker) as fh:
                src = fh.read().strip()
        except OSError:
            continue
        if src and not os.path.isdir(src):
            shutil.rmtree(os.path.join(root, tag), ignore_errors=True)


def _safe(name: str) -> str:
    return re.sub(r"[^A-Za-z0-9._-]", "_", name)


def _corpus_tag(sf_dir: str) -> str:
    ap = os.path.abspath(sf_dir)
    base = _safe(os.path.basename(ap)) or "corpus"
    return f"{base}-{sha1(ap.encode()).hexdigest()[:10]}"


def _mark_corpus(tag_dir: str, sf_dir: str) -> None:
    """Create the corpus tag dir and its source-path marker (read by
    the vanished-corpus sweep)."""
    os.makedirs(tag_dir, exist_ok=True)
    marker = os.path.join(tag_dir, "_corpus_path")
    if not os.path.exists(marker):
        try:
            with open(marker + ".tmp", "w") as fh:
                fh.write(os.path.abspath(sf_dir))
            os.replace(marker + ".tmp", marker)
        except OSError:
            pass


def _memo(spark: SparkSession) -> tuple[dict, dict]:
    """``spark``'s artifact memo and pins, created on first use; call
    under ``_LOCK``. The finalizer holds the pins only, so the session
    stays collectable and its shared locks close when it is."""
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = ({}, {})
        setattr(spark, _MEMO_ATTR, memo)
        _SESSIONS.add(spark)
        weakref.finalize(spark, _close_pins, memo[1])
    return memo


def _evict_superseded_disk(final: str) -> None:
    """Remove older generations of the same artifact: siblings sharing
    the name prefix but a different generation suffix, plus any
    orphaned staging dir of one from a crashed writer. A generation
    some session in any process still serves holds a pin and is kept
    until a later landing. Call under the artifact's build lock."""
    parent, base = os.path.split(final)
    gen = re.escape(base.rsplit("-", 1)[0]) + "-[0-9a-f]+"
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for n in names:
        p = os.path.join(parent, n)
        if n == base or not re.fullmatch(rf"{gen}|\.{gen}\.staging-\w+", n):
            continue
        meta = os.path.join(p, _META)
        probe = lock(meta, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if probe is not None:
            probe.close()
        elif os.path.exists(meta):
            continue  # pinned: a session in some process serves it
        shutil.rmtree(p, ignore_errors=True)


def _close_pins(pins: dict) -> None:
    for pin in pins.values():
        pin.close()


def _unpin(pins: dict, slot: tuple) -> None:
    """Release the pin of a memo entry that was replaced or dropped."""
    pin = pins.pop(slot, None)
    if pin is not None:
        pin.close()


# ------------------------------------------------------ directory swaps

_SIDE = re.compile(r"\.(.+)\.(staging|aside)-\w+")


def _beside(path: str, kind: str) -> str:
    parent, name = os.path.split(os.path.normpath(path))
    return os.path.join(parent, f".{name}.{kind}-{uuid.uuid4().hex[:8]}")


def staging(path: str) -> str:
    """A fresh staging path beside ``path`` for :func:`replace`: hidden
    from Spark's path filter and swept by :func:`recover`."""
    return _beside(path, "staging")


def publish(final: str, fill: Callable[[str], None]) -> bool:
    """Populate a fresh staging dir with ``fill(tmp)`` and rename it to
    ``final``. A lost rename race discards the staging dir and keeps
    the winner's copy. Returns True iff ``final`` exists afterwards;
    errors from ``fill`` propagate."""
    tmp = staging(final)
    os.makedirs(tmp)
    try:
        fill(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return os.path.isdir(final)


def replace(live: str, staged: str) -> None:
    """Swap ``staged`` in for ``live`` (which may not exist yet). A
    directory cannot be renamed over a non-empty one, so the live dir
    is renamed aside first and deleted only after the staged one is in:
    a crash at any point leaves the live or the aside copy, which
    :func:`recover` restores. A file is renamed over ``live`` in one
    atomic step."""
    if os.path.isdir(staged) and os.path.exists(live):
        aside = _beside(live, "aside")
        os.rename(live, aside)
        os.rename(staged, live)
        shutil.rmtree(aside)
    else:
        os.replace(staged, live)


def recover(path: str) -> None:
    """Undo what a crashed :func:`publish` or :func:`replace` left at
    ``path`` or directly inside it: restore a live entry that is missing
    but has an aside copy, and delete every other staging and aside
    entry. Call before rewriting ``path``, under the same single-writer
    discipline as the rewrite itself."""
    path = os.path.normpath(path)
    parent, name = os.path.split(path)
    # path's own entries first: a restored path is then listed below
    for d, own in ((parent or ".", name), (path, None)):
        try:
            names = sorted(os.listdir(d))
        except OSError:
            continue
        for n in names:
            m = _SIDE.fullmatch(n)
            if m is None or own not in (None, m.group(1)):
                continue
            side, live = os.path.join(d, n), os.path.join(d, m.group(1))
            if m.group(2) == "aside" and not os.path.exists(live):
                os.rename(side, live)
            elif os.path.isdir(side):
                shutil.rmtree(side, ignore_errors=True)
            else:
                os.unlink(side)


# ---------------------------------------------------------- build once


def _build_once(
    spark: SparkSession | None,
    sf_dir: str,
    stem: str,
    read: Callable[[str], object],
    make: Callable[[str], object],
) -> object:
    """Serve artifact ``stem`` of ``sf_dir`` from ``spark``'s memo, else
    ``read(path)`` from disk, else ``make(path)`` — which builds,
    publishes and returns the value to serve. ``read`` returns
    ``_MISS`` when the generation is absent and removes it when it is
    corrupt, so a bad copy is rebuilt rather than served. Directory
    artifacts pass no session: the directory is their only copy.

    A memo miss holds the stem's build lock (one file per stem, not
    per generation, so no lock file needs sweeping) across the memo
    re-check, ``read`` and ``make``. A served frame's generation is
    pinned inside that lock, so no landing can evict it between the
    check and the serve. The build lock and the pin are two files: a
    rebuild of a corrupt generation this process serves must not wait
    on its own pin."""
    key = f"{_SOURCE_DIGEST}:{_corpus_fingerprint(sf_dir)}"
    tag_dir = os.path.join(artifact_root(), _corpus_tag(sf_dir))
    path = os.path.join(
        tag_dir, f"{_safe(stem)}-{sha1(key.encode()).hexdigest()[:16]}"
    )
    slot = (sf_dir, stem)
    with _LOCK:
        memo, pins = _memo(spark) if spark is not None else ({}, {})
        hit = memo.get(slot)
    if hit is not None and hit[0] == path:
        return hit[1]
    _mark_corpus(tag_dir, sf_dir)
    with lock(os.path.join(tag_dir, f"_{_safe(stem)}.lock")):
        hit = memo.get(slot)
        if hit is not None and hit[0] == path:
            return hit[1]
        value = read(path)
        if value is _MISS:
            t0 = time.perf_counter()
            value = make(path)
            dt = time.perf_counter() - t0
            if os.path.isdir(path):
                _evict_superseded_disk(path)
            with _LOCK:
                BUILD_SECONDS[stem] = BUILD_SECONDS.get(stem, 0.0) + dt
        pin = lock(os.path.join(path, _META), fcntl.LOCK_SH)
        with _LOCK:
            memo[slot] = (path, value)
            _unpin(pins, slot)
            if pin is not None:
                pins[slot] = pin
        return value


# ------------------------------------------------------------- shapes


def _parquet_rows(data_dir: str) -> int:
    """Rows in the parquet files Spark would read from ``data_dir``,
    summed from their footers; raises if any file is not parquet."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(data_dir, n)).num_rows
        for n in os.listdir(data_dir)
        if not n.startswith(("_", "."))
    )


def corpus_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The artifact frame ``name`` of ``sf_dir``, built with
    ``build()`` once per corpus generation and persisted as parquet
    for later sessions and processes. Served as a lazy scan of the
    validated copy; a frame that cannot round-trip parquet is served
    ``localCheckpoint``-ed from the memo only."""

    def read(path: str) -> object:
        meta_p = os.path.join(path, _META)
        data_p = os.path.join(path, "data")
        if not (os.path.isfile(meta_p) and os.path.isdir(data_p)):
            return _MISS
        try:
            with open(meta_p) as fh:
                meta = json.load(fh)
            if _parquet_rows(data_p) == meta["rows"]:
                schema = T.StructType.fromJson(meta["schema"])
                return spark.read.schema(schema).parquet(data_p)
        except Exception:
            pass
        # unreadable sidecar or footer, or a part file lost
        shutil.rmtree(path, ignore_errors=True)
        return _MISS

    def make(path: str) -> DataFrame:
        built = build()

        def fill(tmp: str) -> None:
            data_p = os.path.join(tmp, "data")
            built.write.parquet(data_p)
            meta = {
                "schema": built.schema.jsonValue(),
                "rows": _parquet_rows(data_p),
            }
            with open(os.path.join(tmp, _META), "w") as fh:
                json.dump(meta, fh)

        try:
            served = read(path) if publish(path, fill) else _MISS
        except Exception:  # the frame cannot round-trip parquet
            served = _MISS
        return built.localCheckpoint() if served is _MISS else served

    return _build_once(spark, sf_dir, name, read, make)


def census_artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], object],
) -> object:
    """The driver-side census value ``name`` of ``sf_dir`` (bucket
    histograms, bitset words, bounds), built with ``build()`` once per
    corpus generation and persisted as JSON. Every process, the
    building one included, serves the value parsed from that JSON, so
    tuples come back as lists and a value JSON cannot encode is a
    build error."""

    def read(path: str) -> object:
        p = os.path.join(path, "value.json")
        if not os.path.isfile(p):
            return _MISS
        try:
            with open(p) as fh:
                return json.load(fh)
        except Exception:
            shutil.rmtree(path, ignore_errors=True)
            return _MISS

    def make(path: str) -> object:
        text = json.dumps(build(), allow_nan=False)

        def fill(tmp: str) -> None:
            with open(os.path.join(tmp, "value.json"), "w") as fh:
                fh.write(text)

        publish(path, fill)
        return json.loads(text)

    return _build_once(spark, sf_dir, f"census:{name}", read, make)


def artifact_directory(
    sf_dir: str,
    name: str,
    build: Callable[[str], None],
) -> str:
    """The directory artifact ``name`` of ``sf_dir``: ``build(tmp)``
    populates a fresh directory once per corpus generation, which is
    renamed to a stable path shared by every consumer and process.
    Rename preserves file mtimes, so landing dirs keep their stamped
    arrival order."""

    def read(path: str) -> object:
        return path if os.path.isdir(path) else _MISS

    def make(path: str) -> str:
        if not publish(path, build):
            raise OSError(f"artifact publish failed: {path}")
        return path

    return _build_once(None, sf_dir, f"dir:{name}", read, make)


# ------------------------------------------------------------ clearing


def clear_artifacts(
    spark: SparkSession | None = None, name: str | None = None
) -> None:
    """Drop memoized artifacts: all of them, one session's, one
    artifact name's, or the intersection.

    Disk scope: a name-scoped clear also removes that artifact's
    persisted generations (it means "this artifact's definition is
    void", which no fingerprint can see); a bare ``clear_artifacts()``
    wipes the whole disk store; a session-only clear leaves disk alone,
    so clearing one session does not force other processes to rebuild.
    A disk clear also deletes the build-lock files, so it must not run
    while a build of that artifact is live in any process: the next
    builder would lock a new file and not wait for the old holder."""
    stems = None if name is None else {name, f"census:{name}", f"dir:{name}"}
    with _LOCK:
        for s in [spark] if spark is not None else list(_SESSIONS):
            memo, pins = getattr(s, _MEMO_ATTR, ({}, {}))
            for slot in [k for k in memo if stems is None or k[1] in stems]:
                memo.pop(slot)
                _unpin(pins, slot)
    if stems is None and spark is not None:
        return
    root = artifact_root()
    try:
        tags = os.listdir(root)
    except OSError:
        return
    for tag in tags:
        tag_dir = os.path.join(root, tag)
        if stems is None:
            shutil.rmtree(tag_dir, ignore_errors=True)
            continue
        try:
            entries = os.listdir(tag_dir)
        except OSError:
            continue
        for n in entries:
            if any(n.startswith(_safe(s) + "-") for s in stems):
                shutil.rmtree(os.path.join(tag_dir, n), ignore_errors=True)
