"""Hold a bucketed store's commit lock from a test, the way a live
writer or recoverer holds it."""

from __future__ import annotations

import fcntl
import os
from contextlib import contextmanager

from database_clonev2_spark.pipeline import _buckets as bk


@contextmanager
def hold_store_lock(root: str):
    """Hold ``<root>/_recovery.lock`` until the block exits. Raises
    BlockingIOError at once when another holder has it, so
    ``with hold_store_lock(root): pass`` asserts the lock is free."""
    fd = os.open(os.path.join(root, bk._RECOVERY_LOCK_FILE), os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        yield
    finally:
        os.close(fd)
