"""logs_bulk: one pass is the reference log workflow,
``big_data_spark.main.main([logs.jsonl, --out-dir ...], spark=...)``,
on many instances of a few call-tree shapes.

The input is JSONL built here from random rooted call trees and their
Euler-tour request/response events, the same tree model as
``big_data_spark.datagen``. The generator also keeps each process's raw
Euler string, which is the truth the output checks use.

The tree shapes come from a fixed seed; ``--seed`` draws which shape
each process instantiates. The shapes decide how many groups, LSH
components and component-loop jobs a pass has. With shapes drawn per
seed, the first pass ranged from 22 s to 33 s over ten seeds on a
4-core host, while repeated runs of one seed stayed within about 10 %.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import random
import re
import shutil

import big_data_spark.main as cli
import big_data_spark.pipeline.processes as processes

from perfbench.stages import Timeline, patched

# Measured passes after the first: all a run can afford of a warm-up
# that lasts about six passes.
PASSES = 2
N_PROCESSES = 20_000
N_TREES = 200
MAX_BRANCH = 2
MAX_DEPTH = 3
N_SERVERS = 50
SHAPES_SEED = 0

WRITE_STAGES = ("writers.part1_logs", "writers.part1_obs", "writers.part2_obs")
STAGES = (
    "readers.read_logs_json",
    "connections.servers",
    "clustering.cluster_servers",
    "clustering.cluster_logs",
    "tree.encodings",
    "pipeline.groups",
    "dbscan.part2",
) + WRITE_STAGES
OUTPUTS = ("part1Output", "part1Observations", "part2Observations")

_GROUP_LINE = re.compile(r"^Group (\d+): \[(.*)\] $")


def _tree(rng: random.Random, depth: int = 1) -> list:
    server = f"S{rng.randrange(N_SERVERS)}"
    children = []
    if depth < MAX_DEPTH:
        for _ in range(rng.randint(0, MAX_BRANCH)):
            children.append(_tree(rng, depth + 1))
    return [server, children]


def _euler(tree: list) -> list[tuple[str, str, str]]:
    events: list[tuple[str, str, str]] = []

    def walk(parent: str, node: list) -> None:
        server, children = node
        events.append((parent, server, "Request"))
        for child in children:
            walk(server, child)
        events.append((server, parent, "Response"))

    walk("user", tree)
    return events


def generate(path: str, seed: int) -> dict[str, str]:
    """Write the event log; return process id -> raw Euler string."""
    shape_rng = random.Random(SHAPES_SEED)
    shapes = [_euler(_tree(shape_rng)) for _ in range(N_TREES)]
    rng = random.Random(seed)
    truth: dict[str, str] = {}
    tick = 0
    with open(path, "w") as f:
        for p in range(N_PROCESSES):
            pid = f"process{p}"
            events = shapes[rng.randrange(N_TREES)]
            truth[pid] = " ".join(f"{src}>{dst}:{action}" for src, dst, action in events)
            for src, dst, action in events:
                tick += 1
                f.write(
                    json.dumps(
                        {
                            "state_from": src,
                            "state_to": dst,
                            "action": action,
                            "time": tick,
                            "process_id": pid,
                        }
                    )
                )
                f.write("\n")
    return truth


def _read_output(path: str) -> bytes:
    parts = sorted(n for n in os.listdir(path) if n.startswith("part-"))
    chunks = []
    for name in parts:
        with open(os.path.join(path, name), "rb") as f:
            chunks.append(f.read())
    return b"".join(chunks)


class Workload:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.input = os.path.join(work, "in", "logs.jsonl")
        self.truth: dict[str, str] = {}
        self.first_digest: dict[str, str] | None = None
        self._out: str | None = None
        self._ran = False
        self.attempted = 0

    def generate(self) -> None:
        os.makedirs(os.path.dirname(self.input), exist_ok=True)
        self.truth = generate(self.input, self.seed)

    def setup(self, spark) -> None:
        """No program-side fixture: the workflow starts from the file."""

    def ready(self, spark) -> None:
        """Nothing to do after set-up."""

    def table_stats(self, spark) -> dict[str, float]:
        return {}

    def prepare(self, k: int) -> None:
        if self._out is not None:
            shutil.rmtree(self._out, ignore_errors=True)
        self._out = os.path.join(self.work, "out", f"pass{k}")

    @staticmethod
    def phases(tl: Timeline, start: float, end: float) -> tuple[float, float]:
        """(read_s, commit_s): the input side of the pass, up to the first
        report write, and the report side, from there to the end. The
        report side includes the lazy part-2 work the writes trigger."""
        split = tl.first_start[WRITE_STAGES[0]]
        return split - start, end - split

    def _patches(self, tl: Timeline, traced: bool):
        patches = [(cli, "write_json", tl.spanning("writers.part1_logs"))]
        if traced:
            writes = iter(WRITE_STAGES[1:])

            def write_text(fn):
                return lambda *a, **kw: tl.span(next(writes), fn, *a, **kw)

            patches += [
                (cli, "read_logs_json", tl.spanning("readers.read_logs_json")),
                (cli, "write_text", write_text),
                # part2 runs lazily: LSH and components at its checkpoint,
                # the rest when main() first probes the report.
                (cli, "_part2_observations", tl.opening("dbscan.part2")),
                (processes, "server_connections", tl.opening("connections.servers")),
                (processes, "cluster_servers", tl.spanning("clustering.cluster_servers")),
                (processes, "cluster_logs", tl.opening("clustering.cluster_logs")),
                (processes, "cluster_process_encodings", tl.opening("tree.encodings")),
                (processes, "equal_process_groups", tl.opening("pipeline.groups")),
                (processes, "similar_process_groups", tl.opening("dbscan.part2")),
                (processes, "truncate_lineage", tl.closing()),
            ]
        return patches

    def run(self, spark, tl: Timeline, traced: bool) -> list[tuple[str, str]]:
        """The timed part of a pass: [(operation, error)] for failures."""
        self.attempted = 1
        with patched(self._patches(tl, traced)):
            try:
                cli.main([self.input, "--out-dir", self._out], spark=spark)
            except Exception as e:  # noqa: BLE001 — a failed pass is counted, not fatal
                return [("main", repr(e))]
            finally:
                tl.end()
        self._ran = True
        return []

    def check(self, spark) -> list[tuple[str, str]]:
        """Untimed output checks of the pass that just ran."""
        if not self._ran:
            return []
        self._ran = False
        return [("main", msg) for msg in self._errors()]

    def _errors(self) -> list[str]:
        prefix = os.path.join(self._out, os.path.basename(self.input))
        data = {o: _read_output(f"{prefix}_{o}.txt") for o in OUTPUTS}
        digest = {o: hashlib.sha256(b).hexdigest() for o, b in data.items()}
        errors = []
        if self.first_digest is None:
            self.first_digest = digest
        for o in OUTPUTS:
            if digest[o] != self.first_digest[o]:
                errors.append(f"{o} differs from the first pass")

        group_of: dict[str, str] = {}
        seen = collections.Counter()
        for line in data["part1Observations"].decode().splitlines():
            m = _GROUP_LINE.match(line)
            if m:
                for pid in re.findall(r"'([^']*)'", m.group(2)):
                    seen[pid] += 1
                    group_of[pid] = m.group(1)
        dup = [p for p, n in seen.items() if n > 1]
        missing = set(self.truth) - set(seen)
        extra = set(seen) - set(self.truth)
        if dup or missing or extra:
            errors.append(
                f"part-1 groups: {len(dup)} processes in several groups, "
                f"{len(missing)} in none, {len(extra)} unknown"
            )
        by_euler: dict[str, set[str]] = collections.defaultdict(set)
        for pid, euler in self.truth.items():
            by_euler[euler].add(group_of.get(pid))
        split = sum(1 for groups in by_euler.values() if len(groups) > 1)
        if split:
            errors.append(f"{split} identical Euler strings split across groups")

        balance = collections.Counter()
        for line in data["part1Output"].decode().splitlines():
            row = json.loads(line)
            balance[str(row["process_id"])] += 1 if row["action"] == "Request" else -1
        unbalanced = [g for g, n in balance.items() if n]
        if unbalanced:
            errors.append(f"{len(unbalanced)} part-1 groups with unbalanced events")
        if set(balance) != set(group_of.values()):
            errors.append("part1Output and part1Observations name different groups")
        if not data["part2Observations"].strip():
            errors.append("part2Observations is empty")
        return errors
