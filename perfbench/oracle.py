"""Correctness checks made apart from the program: a plain-Python YCSB fold
and a transfer ledger. Each check that fails counts as one failed op."""

from __future__ import annotations

from perfbench.inputs import N_KEYS, START_VALUE, Op

MISSING = object()  # no reply, or an error reply


class SequentialFold:
    """YCSB semantics applied op by op in send order."""

    def __init__(self):
        self.values = [START_VALUE] * N_KEYS

    def apply(self, op: Op):
        v = self.values
        if op.kind == "read":
            return v[op.key]
        if op.kind == "update":
            v[op.key] += op.amount
            return v[op.key]
        if v[op.key] < op.amount:
            return False
        v[op.key] -= op.amount
        v[op.other] += op.amount
        return True


def check_sequential(ops: list[Op], results: list, final: dict[int, int]) -> tuple[int, int]:
    """Every reply equals the fold's running value and the final state equals
    the fold's. Holds for any runtime that applies each key's ops in send
    order and runs each op to its end before the next op on any key, which
    is every runtime for single-key ops and the local runtime for transfers.
    Returns (checks, failed)."""
    fold = SequentialFold()
    failed = sum(got is MISSING or got != fold.apply(op) for op, got in zip(ops, results))
    failed += sum(final.get(k) != fold.values[k] for k in range(N_KEYS))
    return len(ops) + N_KEYS, failed


def check_ledger(ops: list[Op], results: list, final: dict[int, int]) -> tuple[int, int]:
    """Transfers on a distributed runtime: one True/False reply per transfer;
    each key ends at its start value minus its successful outgoing amounts
    plus its incoming ones; no balance is negative; the total is conserved.
    Returns (checks, failed)."""
    balance = [START_VALUE] * N_KEYS
    failed = 0
    for op, got in zip(ops, results):
        if got is True:
            balance[op.key] -= op.amount
            balance[op.other] += op.amount
        elif got is not False:
            failed += 1
    for k in range(N_KEYS):
        v = final.get(k)
        failed += v is None or v != balance[k] or v < 0
    failed += sum(final.values()) != START_VALUE * N_KEYS
    return len(ops) + N_KEYS + 1, failed


def check_distributed(mix: str, ops: list[Op], results: list, final: dict[int, int]) -> tuple[int, int]:
    """The check for a distributed runtime: the fold for single-key ops, the
    ledger for transfers, whose hops interleave with other keys' ops."""
    if mix == "a":
        return check_sequential(ops, results, final)
    return check_ledger(ops, results, final)
