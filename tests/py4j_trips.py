"""Count py4j round trips (driver -> JVM commands) made inside a block.

    with count_round_trips() as trips:
        build_something(df)
    assert trips.n <= 50

Wraps ``ClientServerConnection.send_command`` (the pinned-thread
gateway PySpark uses), so every JVM call, reflection lookup and
collection conversion the block makes is one count. Only the calling
thread's commands count: py4j releases garbage-collected JVM references
from a background finalizer thread, whenever that thread wakes up.
"""

from __future__ import annotations

import contextlib
import threading

from py4j.clientserver import ClientServerConnection


class _Trips:
    n = 0


@contextlib.contextmanager
def count_round_trips():
    trips = _Trips()
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == me:
            trips.n += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        yield trips
    finally:
        ClientServerConnection.send_command = send
