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
import types


@contextlib.contextmanager
def round_trips():
    """Count every ``ClientServerConnection.send_command`` inside the
    block (the one call each driver->JVM command makes in PySpark's
    default pinned-thread mode) into ``.n`` of the yielded counter.
    Pending garbage is collected on entry and cyclic GC is off inside
    the block, so the py4j deletes of freed JVM handles it counts are
    the block's own, not whatever a GC pass happens to free."""
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    counter = types.SimpleNamespace(n=0)

    def counted(self, command):
        counter.n += 1
        return real(self, command)

    gc.collect()
    gc_was_on = gc.isenabled()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        yield counter
    finally:
        ClientServerConnection.send_command = real
        if gc_was_on:
            gc.enable()
