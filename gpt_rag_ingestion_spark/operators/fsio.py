"""Filesystem I/O through the Hadoop FileSystem API, and the one
crash-safe commit protocol every persisted plane uses.

Every call goes through Hadoop, so it works on any scheme whose
directory rename is atomic (local, hdfs://, abfss://); SCALE.md §11
'Sink transactionality' states the contract and the S3 caveat.

Directory protocol (``swap_dir``): the new generation is staged beside
the live one, then ``live -> live__old``, ``staged -> live``, drop
``__old``.  A crash between the two renames leaves ``__old`` and no
``live``; the next writer's ``recover_dir`` restores it.  ``__old``
beside ``live`` means the swap completed and ``__old`` is garbage.
Readers never rename: ``read_dir`` reads ``__old`` while ``live`` is
missing (single writer; the fallback narrows the swap window for a
concurrent reader, it does not close it).

Pointer protocol (``publish``): write ``path__staging``, delete
``path``, rename the staging over it.  The rename is the commit point;
``recover`` rolls a publish that died between its delete and its
rename forward.
"""

from __future__ import annotations


def handle(spark, path: str):
    """(FileSystem, Path) for ``path``."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def exists(spark, path: str) -> bool:
    fs, p = handle(spark, path)
    return bool(fs.exists(p))


def delete(spark, path: str) -> None:
    """Recursive delete; a missing path is a no-op."""
    fs, p = handle(spark, path)
    fs.delete(p, True)


def mkdirs(spark, path: str) -> None:
    fs, p = handle(spark, path)
    fs.mkdirs(p)


def list(spark, path: str):
    """FileStatus of every child of ``path``; empty when it is missing."""
    fs, p = handle(spark, path)
    return fs.listStatus(p) if fs.exists(p) else []


def rename(spark, src: str, dst: str) -> None:
    """Atomic rename; raises ``OSError`` when Hadoop reports failure."""
    fs, ps = handle(spark, src)
    if not fs.rename(ps, spark.sparkContext._jvm.org.apache.hadoop.fs.Path(dst)):
        raise OSError(f"rename failed: {src} -> {dst}")


def write_text(spark, path: str, text: str) -> None:
    """Create or overwrite ``path`` with ``text`` (not atomic)."""
    fs, p = handle(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text(spark, path: str) -> str:
    fs, p = handle(spark, path)
    stm = fs.open(p)
    try:
        return spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toString(
            stm, "UTF-8"
        )
    finally:
        stm.close()


def swap_dir(spark, staged: str, live: str) -> None:
    """Replace directory ``live`` with ``staged``: the committed
    generation is never destroyed before its replacement is in place.
    Then drop the session's cached file listing of ``live``."""
    live = live.rstrip("/")
    old = f"{live}__old"
    delete(spark, old)
    if exists(spark, live):
        rename(spark, live, old)
    rename(spark, staged, live)
    delete(spark, old)
    spark.catalog.refreshByPath(live)


def recover_dir(spark, live: str) -> None:
    """Writer-side: finish a swap a crash interrupted.  ``__old``
    without ``live`` is restored; ``__old`` beside ``live`` is the
    completed swap's garbage.  A leftover ``__staging`` is left to the
    next writer, which overwrites it."""
    live = live.rstrip("/")
    old = f"{live}__old"
    if exists(spark, old):
        if exists(spark, live):
            delete(spark, old)
        else:
            rename(spark, old, live)


def recover_tree(spark, root: str) -> None:
    """``recover_dir`` for ``root`` and every directory under it: a
    partitioned table swaps each partition directory on its own, so a
    crash can leave ``<root>/p=v__old`` anywhere in the tree.
    ``__staging`` subtrees are not walked."""
    recover_dir(spark, root)
    fs, top = handle(spark, root)
    if not fs.exists(top):
        return
    stack = [top]
    while stack:
        for st in fs.listStatus(stack.pop()):
            if not st.isDirectory():
                continue
            p = st.getPath()
            name = p.getName()
            if name.endswith("__old"):
                recover_dir(spark, p.toString()[: -len("__old")])
            elif not name.endswith("__staging"):
                stack.append(p)


def read_dir(spark, live: str):
    """Reader-side: the parquet at ``live``, or at ``live__old`` while
    a swap has ``live`` renamed away.  Never renames."""
    if not exists(spark, live) and exists(spark, f"{live}__old"):
        live = f"{live}__old"
    return spark.read.parquet(live)


def publish(spark, path: str, write) -> None:
    """Replace the file or directory at ``path`` with what
    ``write(staging_path)`` writes."""
    staging = f"{path}__staging"
    write(staging)
    delete(spark, path)
    rename(spark, staging, path)


def recover(spark, path: str) -> bool:
    """Writer-side: roll a publish that died between its delete and its
    rename forward (its staging was complete before the delete).
    Returns whether ``path`` exists afterwards."""
    if exists(spark, path):
        return True
    staging = f"{path}__staging"
    if not exists(spark, staging):
        return False
    rename(spark, staging, path)
    return True
