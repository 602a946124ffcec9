"""Benchmark-owned inputs: the YCSB entity, a bounded Zipf key generator
and the op streams drawn from a workload seed.

The engine under test receives only the events built here, so the inputs
stay fixed when the program's own YCSB harness changes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Optional

from stateflow_spark.entity import EntityRef, entity, operator

N_KEYS = 100
START_VALUE = 100
THETA = 0.99
ENTITY = "YcsbRecord"

# (read, update) shares; the rest of the draw is `transfer`
MIXES = {"a": (0.5, 0.5), "t": (0.0, 0.0)}


@entity
class YcsbRecord:
    def __init__(self, key: str, value: int):
        self.key: str = key
        self.value: int = value

    def read(self) -> int:
        return self.value

    def update(self, delta: int) -> int:
        self.value += delta
        return self.value

    def transfer(self, amount: int, other: "YcsbRecord") -> bool:
        if self.value < amount:
            return False
        self.value -= amount
        other.update(amount)
        return True

    def __key__(self):
        return self.key


class BoundedZipf:
    """Zipf(theta) over ranks [0, n), by the closed-form inversion of Gray,
    Sundaresan, Englert, Baclawski and Weinberger, "Quickly Generating
    Billion-Record Synthetic Databases" (SIGMOD 1994)."""

    def __init__(self, n: int, theta: float, rng: random.Random):
        self.n = n
        self.theta = theta
        self.rng = rng
        self.zeta_n = sum(i ** -theta for i in range(1, n + 1))
        self.half_pow = 0.5 ** theta
        zeta_2 = 1.0 + self.half_pow
        self.alpha = 1.0 / (1.0 - theta)
        self.eta = (1.0 - (2.0 / n) ** (1.0 - theta)) / (1.0 - zeta_2 / self.zeta_n)

    def draw(self) -> int:
        u = self.rng.random()
        uz = u * self.zeta_n
        if uz < 1.0:
            return 0
        if uz < 1.0 + self.half_pow:
            return 1
        return min(self.n - 1, int(self.n * (self.eta * u - self.eta + 1.0) ** self.alpha))


@dataclass(frozen=True)
class Op:
    kind: str  # read | update | transfer
    key: int
    amount: int = 0
    other: Optional[int] = None


class OpStream:
    """An endless, seeded stream of YCSB ops. Each runtime draws from its
    own stream (``label``), so adding bursts to one runtime leaves the
    ops of the others unchanged."""

    def __init__(self, mix: str, seed: int, label: str):
        self.read_share, self.update_share = MIXES[mix]
        rng = random.Random(f"{seed}:{mix}:{label}")
        self.zipf = BoundedZipf(N_KEYS, THETA, rng)
        self.rng = rng

    def take(self, n: int) -> list[Op]:
        return [self._next() for _ in range(n)]

    def _next(self) -> Op:
        k = self.zipf.draw()
        r = self.rng.random()
        if r < self.read_share:
            return Op("read", k)
        if r < self.read_share + self.update_share:
            return Op("update", k, amount=self.rng.randint(-10, 10))
        o = self.zipf.draw()
        if o == k:
            o = (k + 1) % N_KEYS
        return Op("transfer", k, amount=self.rng.randint(1, 5), other=o)


def ref(k: int) -> EntityRef:
    return EntityRef(ENTITY, f"k{k}")


def init_events() -> list:
    return [operator.make_init_event(ENTITY, (f"k{k}", START_VALUE)) for k in range(N_KEYS)]


def to_event(op: Op):
    if op.kind == "transfer":
        return operator.make_invoke_event(ref(op.key), "transfer", (op.amount, ref(op.other)))
    args = () if op.kind == "read" else (op.amount,)
    return operator.make_invoke_event(ref(op.key), op.kind, args)


def read_events() -> list:
    """One `read` per key: the final-state probe for the continuous engine."""
    return [operator.make_invoke_event(ref(k), "read", ()) for k in range(N_KEYS)]
