"""The saved-store protocol: one local generation-pointer format shared
by every maintained store that needs crash semantics — the saved ANN
index (``operators/similarity.py``), the dedup saved index
(``operators/dedup.py``), the segment-counts store
(``operators/pipeline_prep.py``) and the classifier-weights store
(``operators/textstats.py``).

On-disk layout of a store at ``path``::

    {path}/_CURRENT          one line naming the live generation
    {path}/gen-K/...         one complete generation per commit
    {path}/<marker>          exclusive single-writer marker
                             (_ANN_WRITING, _INDEX_WRITING for the dedup
                             index, _COUNTS_WRITING for the counts and
                             weights stores)

Commit sequence (``commit``): the writer holds its marker, writes a
COMPLETE fresh generation numbered one past the highest ``gen-K`` on
disk (``gen-0`` in an empty store — a crashed writer's partial
directory is never reused), flips ``_CURRENT`` onto it atomically, then
sweeps superseded generations and the pointer's tmp file. No writer
mutates the live generation, so a crash before the flip leaves the old
pointer valid (the partial directory is unreferenced litter the next
commit sweeps) and a crash after it leaves the new generation complete.
Every writer therefore releases its marker on any exit (``writer``).
The sweep is best-effort: once the flip has committed, a sweep failure
warns instead of reporting the committed generation as a failed write.
A generation may carry an append-only relation forward by hard links
(``link_relation``) and append to the linked directory: the appended
files are new names, so the live generation still sees only its own
files.

Durability: the pointer is written aside, fsynced, renamed over
``_CURRENT`` and the directory fsynced (``write_atomic``, also used by
the streaming sidecars), so the flip survives a power loss. The parquet
DATA files are flushed by Spark and the OS page cache, not fsynced
here: full power-loss durability for the data needs the filesystem's
guarantees or a transactional table format, as for every other parquet
sink in this engine.

Retention: every store keeps the live generation and its immediate
predecessor — a one-mutation grace window for lazy readers and
pinned-generation reads; with links, a merge's predecessor costs only
the relations the merge rewrote.

Only local paths (plain, Windows drive, ``file:`` URIs) get the
protocol: an object store has no atomic rename."""

from __future__ import annotations

import contextlib
import errno
import os
import re
import shutil
import warnings

from presto_on_ray_spark.sources import read_parquet

POINTER = "_CURRENT"
_GEN = re.compile(r"gen-(\d+)")


class AmbiguousIndexPath(ValueError):
    """A saved-store URI that urlparse would silently truncate
    ('?'/'#' present): never downgraded to best-effort handling."""


def local_paths(path: str, refusal: str | None = None):
    """(spark_path, os_path) for a local store location. A non-local
    URI returns None, or raises ValueError naming ``refusal`` (the
    caller's remedy) when one is given. Accepts plain paths, Windows
    drive paths (single-letter 'schemes'), and the file:/x /
    file:///x / file://localhost/x URI forms.

    NO percent-decoding happens anywhere: Hadoop treats %XX in a
    file: URI literally (verified against pyspark 4.1.2 — writing to
    'file:/x%20y' creates a directory literally named 'x%20y'), so
    the os-level side must use the byte-exact same path or every
    guard silently checks a different directory than Spark mutates.
    The Spark side gets the canonical 'file:<path>' form: Hadoop
    rejects the file://localhost authority spelling ('Wrong FS'),
    and keeping an explicit file: scheme stops a non-file
    fs.defaultFS from capturing the writes. Plain schemeless paths
    pass through verbatim for both sides (their defaultFS semantics
    are the caller's choice)."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if len(parsed.scheme) <= 1:  # plain path or Windows drive letter
        return path, path
    if parsed.scheme != "file" or parsed.netloc not in ("", "localhost"):
        if refusal is None:
            return None
        raise ValueError(f"{path!r} is not a local path: {refusal}")
    if parsed.query or parsed.fragment:
        # urlparse truncates at '?'/'#', but Hadoop treats both
        # literally in paths — silently operating on the truncated
        # directory would redirect the whole store. A DISTINCT class,
        # raised even where a non-local path falls back to a flat
        # layout (that fallback would skip the marker guard for
        # exactly the URIs it deems dangerous).
        raise AmbiguousIndexPath(
            f"saved-index URI {path!r} contains '?' or '#'; these are "
            f"literal path bytes to Hadoop but URI separators to this "
            f"parser — pass the location as a plain path instead"
        )
    p = parsed.path
    if re.match(r"^/[A-Za-z]:[/\\]", p):  # file:///C:/x
        # keep the explicit scheme on the Spark side here too (a bare
        # 'C:/x' re-resolves against fs.defaultFS); os side gets C:/x
        return "file:" + p, p[1:]
    return "file:" + p, p


@contextlib.contextmanager
def writer(os_path: str, marker: str, refusal: str, force: bool = False):
    """Hold the store's exclusive writer marker for the ``with`` body;
    ValueError(``refusal``) when it is already held. ``force=True``
    removes a pre-existing marker first — the takeover for a crashed
    writer's marker, valid only when no writer is live. The marker is
    released on any exit: no writer touches the live generation, so a
    failed one leaves nothing a reader can see."""
    os.makedirs(os_path, exist_ok=True)
    m = os.path.join(os_path, marker)
    if force:
        with contextlib.suppress(FileNotFoundError):
            os.remove(m)
    try:
        os.close(os.open(m, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except FileExistsError:
        raise ValueError(refusal) from None
    try:
        yield
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(m)


def live_generation(os_path: str) -> str | None:
    """The live generation name, or None when no flip has happened."""
    try:
        with open(os.path.join(os_path, POINTER), encoding="utf-8") as f:
            return f.read().strip()
    except FileNotFoundError:
        return None


def next_generation(os_path: str) -> str:
    """One past the highest gen-K on disk (crashed writers' orphans
    count — reusing their number would write into a dirty directory),
    or gen-0 when there is none."""
    nums = [
        int(m.group(1))
        for m in map(_GEN.fullmatch, os.listdir(os_path))
        if m
    ]
    return f"gen-{max(nums, default=-1) + 1}"


def write_atomic(target: str, text: str):
    """Replace the small file ``target`` with ``text`` atomically and
    durably: write-aside, fsync the tmp file, rename, fsync the
    directory — readers see the old content or the new, never a torn
    file, and the rename survives a power loss (an unflushed replace
    could otherwise surface empty or stale after reboot)."""
    tmp = target + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, target)
    try:
        # directory fsync is best-effort ONLY for portability: opening
        # a directory read-only is not universal (PermissionError on
        # Windows, ENOTSUP/EINVAL on some filesystems), and the rename
        # itself already committed. A REAL fsync error (EIO: the rename
        # may not be durable) degrades the guarantee and says so.
        dfd = os.open(os.path.dirname(target) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError as exc:
        if exc.errno not in (errno.ENOTSUP, errno.EINVAL, errno.EACCES,
                             errno.EPERM, errno.EISDIR):
            warnings.warn(
                f"{target!r}: directory fsync after the atomic replace "
                f"failed ({exc}) — the write committed but may not "
                f"survive an immediate power loss",
                stacklevel=3,
            )


def flip(os_path: str, gen: str):
    """Atomically repoint _CURRENT at ``gen``."""
    write_atomic(os.path.join(os_path, POINTER), gen)


def sweep(os_path: str, keep: set):
    """Remove every gen-K directory not in ``keep`` and the pointer's
    tmp file. Runs only under the writer marker and only AFTER a
    successful flip, so the swept directories are unreferenced."""
    for name in os.listdir(os_path):
        if name not in keep and _GEN.fullmatch(name):
            shutil.rmtree(os.path.join(os_path, name))
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(os_path, POINTER + ".tmp"))


def resolve_generation(
    os_path: str, path: str, relations, what: str, resave: str
) -> str:
    """The live generation, or one loud diagnosis every entry point of
    a store shares (load and the writers must agree on what a missing
    pointer means): a directory holding ``relations`` WITHOUT _CURRENT
    is a pre-generational flat layout needing a re-save with
    ``resave``, not a missing store."""
    gen = live_generation(os_path)
    if gen is not None:
        return gen
    if all(os.path.isdir(os.path.join(os_path, n)) for n in relations):
        raise ValueError(
            f"{what} at {path!r} uses the flat relation layout "
            f"({POINTER} missing but {'/'.join(relations)} directories "
            f"present) — read the relations directly with "
            f"spark.read.parquet and re-save with {resave} to adopt the "
            f"generational protocol."
        )
    raise ValueError(
        f"no {what} at {path!r}: {POINTER} is missing (no save ever "
        f"completed its atomic flip here)."
    )


def link_relation(os_path: str, live: str, gen: str, names) -> None:
    """Carry each parquet relation in ``names`` from generation ``live``
    into the fresh generation ``gen`` by hard-linking its data files
    and their ``.crc`` checksums — O(files), no bytes copied. Names
    starting with ``_`` or ``._`` are skipped: Spark's committer
    rewrites ``_SUCCESS`` (and its checksum) in place on an append,
    which through a shared inode would change the live generation. No
    copy fallback: a filesystem without hard links fails the commit
    before its flip."""
    for name in names:
        src = os.path.join(os_path, live, name)
        dst = os.path.join(os_path, gen, name)
        os.makedirs(dst)
        for f in os.listdir(src):
            if not f.startswith(("_", "._")):
                os.link(os.path.join(src, f), os.path.join(dst, f))


def commit(os_path: str, write) -> str:
    """THE generation-commit sequence every store shares: ``write(gen)``
    fills a fresh generation directory, the pointer flips onto it, and
    the sweep keeps the new generation and the one it superseded. The
    caller holds the marker; a failure before the flip leaves the
    pointer on the old generation. Returns the new generation."""
    prev = live_generation(os_path)
    gen = next_generation(os_path)
    write(gen)
    flip(os_path, gen)
    try:
        sweep(os_path, {gen, prev})
    except OSError as exc:
        warnings.warn(
            f"saved store at {os_path!r}: generation {gen} committed but "
            f"the sweep failed ({exc}) — superseded gen-* directories "
            f"remain until the next successful commit",
            stacklevel=3,
        )
    return gen


# -- single-relation generation stores ----------------------------------
# One relation per generation (``gen-K/<relname>``), live + predecessor
# retention, and the _COUNTS_WRITING marker: the segment-counts store
# (relname "counts") and the classifier-weights store ("weights").

COUNTS_WRITING = "_COUNTS_WRITING"


def relation_paths(path: str, relname: str) -> tuple:
    return local_paths(
        path,
        f"the saved {relname} store flips generations with a filesystem "
        f"rename — on an object store keep the {relname} in a "
        f"transactional table format",
    )


@contextlib.contextmanager
def relation_writer(path: str, relname: str, force: bool = False):
    """Hold a relation store's writer marker for the ``with`` body;
    yields (spark_path, os_path)."""
    spark_path, os_path = relation_paths(path, relname)
    with writer(
        os_path,
        COUNTS_WRITING,
        f"saved {relname} store at {os_path!r}: {COUNTS_WRITING} is held "
        f"— a writer is live or crashed. If none is live, retry with "
        f"force=True (the takeover is safe: the pointer only ever "
        f"references complete generations).",
        force,
    ):
        yield spark_path, os_path


def relation_generation(os_path: str, relname: str) -> str:
    """The live generation of a relation store, or a loud error."""
    gen = live_generation(os_path)
    if gen is None:
        raise ValueError(
            f"saved {relname} store at {os_path!r}: no {POINTER} pointer "
            f"— nothing was ever saved here (or the location is not a "
            f"{relname} store)"
        )
    return gen


def publish_relation(
    spark_path: str, os_path: str, rel, relname: str, sidecar=None
) -> str:
    """Commit ``rel`` as the next generation (caller holds the marker).
    ``sidecar`` is an optional (file name, text) pair written inside
    the generation before the flip, so it publishes atomically with
    the relation."""

    def write(gen):
        rel.write.mode("overwrite").parquet(f"{spark_path}/{gen}/{relname}")
        if sidecar is not None:
            name, text = sidecar
            with open(os.path.join(os_path, gen, name), "w",
                      encoding="utf-8") as fh:
                fh.write(text)

    return commit(os_path, write)


def save_relation_generation(
    rel, path: str, relname: str, force: bool = False
) -> None:
    """Publish ``rel`` as a fresh generation of the relation store at
    ``path``: single-writer marker (``force=True`` takes over a
    crashed writer), atomic pointer flip, predecessor kept."""
    with relation_writer(path, relname, force) as (spark_path, os_path):
        publish_relation(spark_path, os_path, rel, relname)


def load_relation_generation(
    spark, path: str, relname: str, generation: str | None = None
):
    """Read a relation store's LIVE generation, or a caller-pinned
    ``generation`` directly (TOCTOU-free: re-resolving the pointer
    after checking it could bind a concurrent commit's generation;
    the predecessor retention keeps a pinned generation readable
    through one concurrent commit)."""
    spark_path, os_path = relation_paths(path, relname)
    if generation is None:
        generation = relation_generation(os_path, relname)
    return read_parquet(spark, f"{spark_path}/{generation}/{relname}")
