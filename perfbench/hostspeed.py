"""How fast the machine is running right now, from a fixed probe.

A machine shared with other tenants changes speed by a third or more
over minutes, with no steal time and CPU time rising with wall time:
every timing of a run moves with it, and repetitions inside one run all
see the same speed, so more of them do not remove it. The timed jobs
are sequences of small Spark jobs, and what slows most on a busy host
is the engine's fixed cost per job (planning, code generation, task
launch, thread hand-offs), not throughput.

``HostSpeed`` times exactly that cost: a few tiny, fixed Spark queries
(a count of 16 generated rows: one task per core, then one exchange to
a single final task) while the program is idle between repetitions. The
probe runs no code of the program, and it runs in a session of its own
on the same SparkContext whose SQL settings it pins (AQE off), so no
setting of the program's config layer reaches it. A run's job timings
are reported at the reference speed: scaled by ``REF_S`` / the run's
median probe time. A program change moves the reported figure exactly
as much as the raw one; a slower or faster host moves the probe too,
and dividing it out removes most of that drift (perfbench/README.md
gives the figures).
"""

from __future__ import annotations

import statistics
import time

# queries per probe
PROBE_JOBS = 5
# untimed queries before the first probe: its plan and generated code
# are new to the session, and the first runs are several times slower
PROBE_WARMUP_JOBS = 30
# about the median probe time on a quiet 4-vCPU Xeon (2.0 GHz) VM; it
# only fixes the scale of the reported figures
REF_S = 0.4


class HostSpeed:
    def __init__(self, spark):
        self.session = spark.newSession()
        self.session.conf.set("spark.sql.adaptive.enabled", "false")
        self.cores = spark.sparkContext.defaultParallelism
        self.samples: list[float] = []

    def _query(self) -> None:
        self.session.range(0, 16, 1, self.cores).count()

    def sample(self) -> None:
        """Time one probe; record its seconds."""
        if not self.samples:
            for _ in range(PROBE_WARMUP_JOBS):
                self._query()
        t0 = time.perf_counter()
        for _ in range(PROBE_JOBS):
            self._query()
        self.samples.append(time.perf_counter() - t0)

    def slowdown(self) -> float:
        """The run's median probe time / the reference: above 1 on a host
        running slower than the reference."""
        return statistics.median(self.samples) / REF_S
