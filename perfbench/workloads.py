"""The measured phases of one workload run: the same YCSB mix on the local
runtime, the superstep runtime and the continuous engine.

Each runtime seeds its own 100 entities (the local and continuous ones
together with 100 warm-up ops, the superstep one followed by WARM_BURSTS
untimed bursts), measures, and then reads back its final state for the
checks in ``oracle``. Seeding and warm-up time is summed into
``setup_s``.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import statistics
import threading
import time

from stateflow_spark import serde
from stateflow_spark.entity import EntityRef, EventType, LocalRuntime, operator
from stateflow_spark.entity.interpreter import StateStore
from stateflow_spark.streaming.stateful import StreamingEntityEngine
from stateflow_spark.streaming.superstep import SuperstepRuntime

from perfbench import inputs, oracle
from perfbench.inputs import N_KEYS, START_VALUE, OpStream, YcsbRecord
from perfbench.tracing import group_counts, tree_cpu_s

STATE_PARTITIONS = 8  # keyed-state partitions of both Spark runtimes
WARM_OPS = 100
LOCAL_ROUND = 100  # ops per local round
LOCAL_SLICES = 7  # local slices per run: around the session start, after each timed burst, at the end
BURST = 1000  # ops per superstep burst
WARM_BURSTS = 1  # untimed superstep bursts before the timed ones
TIMED_BURSTS = 4
FIT_BURST = 10000  # second burst size of the traced fixed/per-op fit
FIT_BURSTS = 2
STREAM_RATE = {"a": 150.0, "t": 100.0}  # offered ops/s of the open loop
STREAM_TIMED_OPS = 1000  # at least enough samples for a p99 with ten beyond it
RAMP_S = 1.5  # ops due in the open loop's first seconds are checked but not timed
TICK_S = 0.1  # send granularity of the open-loop generator
POLL_S = 0.25  # client reply poll interval
# shares of --seconds spent measuring the local runtime and the open loop
# (after its ramp); the superstep runtime measures TIMED_BURSTS bursts
LOCAL_SHARE, STREAM_SHARE = 0.075, 0.3


def nearest_rank(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Phase:
    """What one runtime phase hands back for the checks and the metrics."""

    def __init__(self, name: str):
        self.name = name
        self.ops: list = []
        self.results: list = []
        self.final: dict[int, int] = {}
        self.checks = (0, 0)  # (checks made, checks failed)
        self.setup_s = 0.0
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.extra: dict = {}  # op counts, batch ranges and raw walls for the trace file


def _reply_value(reply):
    if reply is None or reply.event_type != EventType.OK:
        return oracle.MISSING
    return reply.payload.get("result")


# -- local ------------------------------------------------------------------
def _invoke(rt: LocalRuntime, op):
    r = inputs.ref(op.key)
    try:
        if op.kind == "read":
            return rt.invoke(r, "read")
        if op.kind == "update":
            return rt.invoke(r, "update", op.amount)
        return rt.invoke(r, "transfer", op.amount, inputs.ref(op.other))
    except (RuntimeError, KeyError):
        return oracle.MISSING


class LocalPhase(Phase):
    """The local runtime, closed loop, one client, measured in short rounds
    in slices spread over the run (``measure``), because pure-Python speed
    follows the host, which drifts within a run. ``local_ops_per_s`` is
    LOCAL_ROUND over the median wall of all rounds of the run."""

    def __init__(self, mix: str, seed: int, tr):
        super().__init__("local")
        self.tr = tr
        self.stream = OpStream(mix, seed, "local")
        t0 = time.perf_counter()
        with tr.span("local.setup"):
            self.rt = LocalRuntime()
            for k in range(N_KEYS):
                self.rt.create(YcsbRecord, f"k{k}", START_VALUE)
            self._apply(self.stream.take(WARM_OPS))
        self.setup_s = time.perf_counter() - t0
        self.slices: list[float] = []  # median round rate per slice, for the stamp
        self.walls: list[float] = []

    def _apply(self, batch) -> None:
        self.ops += batch
        self.results += [_invoke(self.rt, op) for op in batch]

    def measure(self, seconds: float) -> None:
        """Whole rounds of LOCAL_ROUND ops for `seconds`, at least three."""
        rates = []
        deadline = time.perf_counter() + seconds
        with self.tr.span("local.slice", op=f"slice-{len(self.slices)}"):
            while len(rates) < 3 or time.perf_counter() < deadline:
                batch = self.stream.take(LOCAL_ROUND)
                t = time.perf_counter()
                self._apply(batch)
                rates.append(LOCAL_ROUND / (time.perf_counter() - t))
        self.walls += [LOCAL_ROUND / r for r in rates]
        self.slices.append(statistics.median(rates))

    def finish(self) -> None:
        self.final = {k: self.rt.get_attr(inputs.ref(k), "value") for k in range(N_KEYS)}
        self.checks = oracle.check_sequential(self.ops, self.results, self.final)
        self.metrics["local_ops_per_s"] = LOCAL_ROUND / statistics.median(self.walls)
        self.extra["slices"] = self.slices
        self.extra["rounds"] = len(self.walls)


# -- superstep --------------------------------------------------------------
def _run_burst(rt: SuperstepRuntime, state_df, batch, ph: Phase):
    events = [inputs.to_event(op) for op in batch]
    t = time.perf_counter()
    res = rt.run(events, state_df=state_df)
    wall = time.perf_counter() - t
    ph.ops += batch
    ph.results += [_reply_value(res.replies.get(e.event_id)) for e in events]
    return res, wall


def superstep_phase(spark, mix: str, seed: int, tr, traced: bool, between) -> Phase:
    """Closed loop, one client, bursts of BURST ops with state chained from
    burst to burst. `between()` runs after each burst, outside its timing."""
    ph = Phase("superstep")
    sc = spark.sparkContext
    ops = OpStream(mix, seed, "superstep")
    t0 = time.perf_counter()
    with tr.span("superstep.setup"):
        rt = SuperstepRuntime(spark, shuffle_partitions=STATE_PARTITIONS)
        sc.setJobGroup("pb-superstep-seed", "perfbench superstep seeding")
        with tr.span("superstep.seed"):
            res = rt.run(inputs.init_events())
        ph.layer["superstep.seed_s"] = time.perf_counter() - t0
        # the first bursts run slower while the JVM compiles the per-superstep path
        sc.setJobGroup("pb-superstep-warm", "perfbench superstep warm-up")
        for i in range(WARM_BURSTS):
            with tr.span("superstep.run", op=f"warm-{i}"):
                res, _ = _run_burst(rt, res.state_df, ops.take(BURST), ph)
    ph.setup_s = time.perf_counter() - t0

    walls, cpus, steps = [], [], []
    sc.setJobGroup("pb-superstep-burst", "perfbench superstep bursts")
    for i in range(TIMED_BURSTS):
        c = tree_cpu_s(os.getpid())
        with tr.span("superstep.run", op=f"burst-{i}"):
            res, wall = _run_burst(rt, res.state_df, ops.take(BURST), ph)
        cpus.append(tree_cpu_s(os.getpid()) - c)
        walls.append(wall)
        steps.append(res.supersteps)
        between()
    fit_walls = []
    if traced:
        sc.setJobGroup("pb-superstep-fit", "perfbench superstep fit bursts")
        for i in range(FIT_BURSTS):
            with tr.span("superstep.run", op=f"fit-{i}"):
                res, wall = _run_burst(rt, res.state_df, ops.take(FIT_BURST), ph)
            fit_walls.append(wall)
            between()
    sc.setLocalProperty("spark.jobGroup.id", None)

    ph.final = {int(k[1:]): st["value"] for (_, k), st in res.collect_state().items()}
    ph.checks = oracle.check_distributed(mix, ph.ops, ph.results, ph.final)
    # CPU, not wall: the wall of a burst follows how much CPU time the
    # host steals from the machine, which moves from run to run
    ph.metrics["superstep_cpu_ms_per_op"] = statistics.median(cpus) / BURST * 1e3
    ph.extra.update(ops=TIMED_BURSTS * BURST, walls=walls, cpus=cpus, fit_walls=fit_walls)
    ph.layer["superstep.run_s"] = statistics.median(walls)
    ph.layer["superstep.supersteps"] = statistics.median(steps)
    if traced:
        jobs, stages, tasks = group_counts(sc, "pb-superstep-burst")
        n_steps = sum(steps)
        ph.layer["superstep.jobs"] = jobs / n_steps
        ph.layer["superstep.stages"] = stages / n_steps
        ph.layer["superstep.tasks"] = tasks / n_steps
        w1, w2 = statistics.median(walls), statistics.median(fit_walls)
        per_op = (w2 - w1) / (FIT_BURST - BURST)
        ph.layer["superstep.per_op_us"] = per_op * 1e6
        ph.layer["superstep.fixed_s"] = w1 - BURST * per_op
    return ph


# -- continuous engine ------------------------------------------------------
def _window_batches(query, start: float, end: float) -> list[dict]:
    """Micro-batches whose trigger started within [start, end) (epoch
    seconds), from the query's recentProgress, in batch order."""
    out = {}
    for p in query.recentProgress:
        d = json.loads(p.json)
        began = datetime.datetime.fromisoformat(d["timestamp"]).timestamp()
        if "addBatch" in d.get("durationMs", {}) and start <= began < end:
            out[d["batchId"]] = d
    return [out[b] for b in sorted(out)]


def stream_phase(spark, mix: str, seed: int, seconds: float, tr, workdir: str) -> Phase:
    ph = Phase("stream")
    ops = OpStream(mix, seed, "stream")
    t0 = time.perf_counter()
    eng = StreamingEntityEngine(
        spark, os.path.join(workdir, "stream"), shuffle_partitions=STATE_PARTITIONS
    )
    try:
        seed_events = inputs.init_events()  # before the ops: each key applies events in creation order
        warm = ops.take(WARM_OPS)
        warm_events = [inputs.to_event(op) for op in warm]
        with tr.span("stateful.setup"):
            eng.send(seed_events + warm_events)
            eng.start()
            eng.drain()
        ph.setup_s = time.perf_counter() - t0
        replies = eng.replies()
        ph.ops += warm
        ph.results += [_reply_value(replies.get(e.event_id)) for e in warm_events]

        rate = STREAM_RATE[mix]
        n = int(rate * RAMP_S) + max(STREAM_TIMED_OPS, round(rate * STREAM_SHARE * seconds))
        loop_ops = ops.take(n)
        events = [inputs.to_event(op) for op in loop_ops]
        due = [i / rate for i in range(n)]
        sent = _open_loop(eng, events, due, tr)
        replies = eng.replies()
        ph.ops += loop_ops
        ph.results += [_reply_value(replies.get(e.event_id)) for e in events]

        epoch0 = sent["epoch0"]
        timed = [(e, d) for e, d in zip(events, due) if d >= RAMP_S]
        lat = [eng.reply_times[e.event_id] - (epoch0 + d) for e, d in timed if e.event_id in eng.reply_times]
        ph.layer["stateful.latency_p50_s"] = nearest_rank(lat, 0.5)
        ph.layer["stateful.latency_p99_s"] = nearest_rank(lat, 0.99)
        ph.layer["loadgen.late_s"] = sent["late_s"]
        ph.layer["stateful.send_s"] = statistics.median(sent["send_s"])
        ph.layer["stateful.poll_s"] = statistics.median(sent["poll_s"]) if sent["poll_s"] else 0.0
        ph.layer["stateful.drain_s"] = sent["drain_s"]

        # final-state probe: one read per key, after the measured window
        probe_start = time.time()
        with tr.span("stateful.probe"):
            probe = inputs.read_events()
            eng.send(probe)
            eng.drain()
        replies = eng.replies()
        ph.final = {
            k: _reply_value(replies.get(e.event_id)) for k, e in enumerate(probe)
        }
        ph.final = {k: v for k, v in ph.final.items() if v is not oracle.MISSING}
        ph.checks = oracle.check_distributed(mix, ph.ops, ph.results, ph.final)
        batches = _window_batches(eng.query, sent["epoch0"], probe_start)
    finally:
        eng.stop()
    _batch_layers(ph, batches, n)
    ph.extra.update(
        ops=n,
        first_batch=batches[0]["batchId"],
        last_batch=batches[-1]["batchId"],
        progress=batches,
    )
    return ph


def _open_loop(eng, events, due, tr) -> dict:
    """Open loop: one generator thread sends every op at its due time on a
    clock that does not wait for the engine (ops due within one tick go in
    one file); the calling thread polls replies like a client would."""
    out = {"send_s": [], "poll_s": [], "late_s": 0.0, "error": None}
    loop_parent = None
    start = time.monotonic()
    out["epoch0"] = time.time() - (time.monotonic() - start)

    def sender():
        try:
            i, j, n = 0, 0, len(events)
            while i < n:
                target = start + j * TICK_S
                delay = target - time.monotonic()
                if delay > 0:
                    time.sleep(delay)
                out["late_s"] = max(out["late_s"], time.monotonic() - target)
                hi = i
                while hi < n and due[hi] <= j * TICK_S:
                    hi += 1
                if hi > i:
                    with tr.span("stateful.send", op=f"tick-{j}", parent=loop_parent):
                        t = time.perf_counter()
                        eng.send(events[i:hi])
                        out["send_s"].append(time.perf_counter() - t)
                    i = hi
                j += 1
        except BaseException as ex:  # re-raised on the calling thread
            out["error"] = ex

    with tr.span("loadgen.open_loop"):
        loop_parent = tr.current()
        th = threading.Thread(target=sender, name="perfbench-sender")
        th.start()
        while th.is_alive():
            th.join(POLL_S)
            with tr.span("stateful.poll"):
                t = time.perf_counter()
                eng.replies()
                out["poll_s"].append(time.perf_counter() - t)
        if out["error"] is not None:
            raise out["error"]
        with tr.span("stateful.drain"):
            t = time.perf_counter()
            eng.drain()
            out["drain_s"] = time.perf_counter() - t
    return out


def _batch_layers(ph: Phase, batches: list[dict], n_sent: int) -> None:
    """Micro-batch breakdown of the measured window, from recentProgress."""
    dur = [b["durationMs"] for b in batches]

    def med(keys):
        return statistics.median(sum(d.get(k, 0) for k in keys) for d in dur) / 1e3

    ph.layer["stateful.batches"] = len(batches)
    ph.layer["stateful.trigger_s"] = med(["triggerExecution"])
    ph.layer["stateful.add_batch_s"] = med(["addBatch"])
    ph.layer["stateful.source_s"] = med(["latestOffset", "getBatch"])
    ph.layer["stateful.plan_s"] = med(["queryPlanning"])
    ph.layer["stateful.commit_s"] = med(["walCommit", "commitOffsets"])
    ph.layer["stateful.hop_rows"] = sum(b["numInputRows"] for b in batches) - n_sent
    state_ops = [b["stateOperators"][0] for b in batches]
    ph.layer["stateful.state_rows"] = state_ops[-1]["numRowsTotal"]
    ph.layer["stateful.state_bytes"] = state_ops[-1]["memoryUsedBytes"]
    ph.layer["stateful.state_commit_ms"] = statistics.median(o["commitTimeMs"] for o in state_ops)


# -- entity and serde layers, timed apart from any engine -------------------
class _OneKeyStore(StateStore):
    """A store that owns one key per activation, as a partition of the
    distributed runtimes does, so cross-key calls leave as hops."""

    def __init__(self):
        self.data: dict[tuple[str, str], dict] = {}
        self.owner: tuple[str, str] | None = None

    def owns(self, ref: EntityRef) -> bool:
        return (ref.entity, ref.key) == self.owner

    def get(self, ref: EntityRef):
        return self.data.get((ref.entity, ref.key))

    def put(self, ref: EntityRef, state: dict) -> None:
        self.data[(ref.entity, ref.key)] = state


def entity_serde_layers(mix: str, seed: int) -> dict[str, float]:
    """Per `operator.handle` call and per wire event, on this workload's own
    events (seeding, then the op stream), run hop by hop against a one-key
    store."""
    store = _OneKeyStore()
    op_events = [inputs.to_event(op) for op in OpStream(mix, seed, "layers").take(BURST)]
    handle_s, wire = [], []
    for i, first in enumerate(inputs.init_events() + op_events):
        queue = [first]
        while queue:
            ev = queue.pop()
            store.owner = (ev.entity, ev.key)
            t = time.perf_counter()
            res = operator.handle(ev, store)
            dt = time.perf_counter() - t
            if i >= N_KEYS:
                handle_s.append(dt)
                wire.append(ev)
                wire += res.replies
            queue += res.hops

    sd = serde.PickleSerde()
    enc_s, dec_s, sizes = [], [], []
    for ev in wire:
        t = time.perf_counter()
        b = sd.to_bytes(ev)
        t1 = time.perf_counter()
        sd.from_bytes(b)
        dec_s.append(time.perf_counter() - t1)
        enc_s.append(t1 - t)
        sizes.append(len(b))
    return {
        "entity.handle_us": statistics.median(handle_s) * 1e6,
        "entity.flow_steps_per_op": len(handle_s) / len(op_events),
        "serde.encode_us": statistics.median(enc_s) * 1e6,
        "serde.decode_us": statistics.median(dec_s) * 1e6,
        "serde.event_bytes": statistics.mean(sizes),
    }
