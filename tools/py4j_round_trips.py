"""Count py4j round trips — the driver->JVM calls a piece of Python plan
construction makes. Shared by the ``py4j_round_trips`` test fixture and
``tools/profile_gate.py``.

Usage::

    with round_trips() as rt:
        ...  # driver code
    print(rt.n)
"""

from __future__ import annotations

import contextlib
import gc
import threading
import types


@contextlib.contextmanager
def round_trips():
    """Count the block's py4j round trips into ``.n`` of the yielded
    counter: every ``ClientServerConnection.send_command`` made on the
    calling thread (the one call each driver->JVM command makes in
    PySpark's default pinned-thread mode), plus one per JVM handle the
    block frees. py4j sends those deletes later, from its finalizer
    thread, so they are counted when queued; that thread's own sends
    are not counted, since they may be the deletes of handles freed
    before the block. Pending garbage is collected on entry and cyclic
    GC is off inside the block, so the deletes counted are the block's
    own, not whatever a GC pass happens to free."""
    from py4j.clientserver import ClientServerConnection, JavaClient

    real_send = ClientServerConnection.send_command
    real_delete = JavaClient.garbage_collect_object
    caller = threading.get_ident()
    counter = types.SimpleNamespace(n=0)

    def counted(self, command):
        if threading.get_ident() == caller:
            counter.n += 1
        return real_send(self, command)

    def queued(self, target_id, enqueue=True):
        if enqueue and threading.get_ident() == caller:
            counter.n += 1
        return real_delete(self, target_id, enqueue)

    gc.collect()
    gc_was_on = gc.isenabled()
    gc.disable()
    ClientServerConnection.send_command = counted
    JavaClient.garbage_collect_object = queued
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = real_send
        JavaClient.garbage_collect_object = real_delete
        if gc_was_on:
            gc.enable()
