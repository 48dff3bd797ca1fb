"""Counted costs: the py4j round trips and the Spark jobs a block of code
makes. A driver-side cost counted this way reads the same on a busy or an
idle machine, so a change to it shows as a change of count, not as noise.

    with counted(spark) as cost:
        engine.query("...")
    assert cost.round_trips <= 150 and cost.jobs == 2
"""

from __future__ import annotations

import contextlib
import gc
import threading

from py4j.clientserver import ClientServerConnection


class Cost:
    round_trips = 0
    jobs = 0


@contextlib.contextmanager
def counted(spark):
    """Count the py4j commands this thread sends and the Spark jobs that
    start while the block runs. py4j's own thread, which sends the detach
    commands of collected proxies, is not counted, and cyclic garbage
    collection waits until the block ends, so a count does not depend on
    when the collector runs."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    cost, me = Cost(), threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(connection, command):
        if threading.get_ident() == me:
            cost.round_trips += 1
        return send(connection, command)

    gc.collect()
    jobs = scheduler.numTotalJobs()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        yield cost
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
        cost.jobs = scheduler.numTotalJobs() - jobs
