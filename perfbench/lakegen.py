"""Seeded generator of local Hudi-style lakes for the extractor workloads.

Standard library only. A ``Lake`` writes a tree of tables under a root
directory and then evolves it round by round, the way writers append to
a live lake between extractor runs. Every name and every byte comes from
``random.Random`` instances seeded by strings derived from the workload
seed, so the same seed gives the same tree.

What a lake holds:

- v1 tables (``.hoodie/`` active timeline, ``.hoodie/archived/`` files
  named ``.commits_.archive.N_...``) and v2 tables (``.hoodie/timeline/``
  active timeline with V9 compound ``<ts>_<completion>.<action>`` names,
  LSM history under ``.hoodie/timeline/history/`` with ``_version_``,
  ``manifest_N`` and ``<a>_<b>_<level>.parquet`` files, some of them no
  longer listed by the current manifest);
- commit, deltacommit, clean and compaction triples, rollback and
  savepoint pairs, and, on some tables, a trailing incomplete commit
  that completes in the next round;
- tables under an excluded path, and two tables whose
  ``hoodie.properties`` is corrupt.

The lake also knows what a correct extractor must have mirrored after
each round (``expected_mirror``): for each healthy table, every file of
each complete commit group up to the first incomplete group, the
``hoodie.properties`` file, and the archived files. This model is
written from the timeline layout rules, not from the extractor's code,
so it can check the extractor.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timedelta

EXCLUDED_MARKER = "_staging_excluded"
EXCLUSION_PATTERNS = [f".*/{EXCLUDED_MARKER}(/.*)?"]
CORRUPT_PROPERTIES = [
    # an unknown table type makes the reference's parse throw
    "hoodie.table.name={name}\nhoodie.table.type=NOT_A_TYPE\nhoodie.table.version=6\n",
    # no table name and a non-numeric version
    "hoodie.table.type=COPY_ON_WRITE\nhoodie.table.version=six\n",
]
_TS_BASE = datetime(2025, 1, 1)


@dataclass(frozen=True)
class LakeProfile:
    """Shape of one generated lake."""

    tables: int  # healthy, discoverable tables
    groups: tuple[int, int]  # commit groups per table at round 0 (min, max)
    groups_per_round: int  # groups appended to every table in each incremental round
    v2_share: float  # share of tables with the v2 (LSM) layout
    archived: tuple[int, int]  # archived files per table (v1 files or LSM parquet files)
    trailing_incomplete: float  # chance a table ends a round with an incomplete commit
    mix: tuple[tuple[str, float], ...]  # group kind -> weight
    databases: int = 3
    payload: tuple[int, int] = (300, 2400)  # completed-instant file size range, bytes


FLEET = LakeProfile(
    tables=8,
    groups=(16, 24),
    groups_per_round=2,
    v2_share=0.35,
    archived=(0, 3),
    trailing_incomplete=0.3,
    mix=(
        ("deltacommit", 0.5),
        ("commit", 0.2),
        ("clean", 0.12),
        ("compaction", 0.06),
        ("rollback", 0.05),
        ("rollback3", 0.02),
        ("savepoint", 0.05),
    ),
)


def table_id_for(table_uri: str) -> str:
    """UUIDv3 of the URI bytes (java.util.UUID.nameUUIDFromBytes)."""
    digest = bytearray(hashlib.md5(table_uri.encode("utf-8")).digest())
    digest[6] = (digest[6] & 0x0F) | 0x30
    digest[8] = (digest[8] & 0x3F) | 0x80
    return str(uuid.UUID(bytes=bytes(digest)))


def _ts(ms: int) -> str:
    return (_TS_BASE + timedelta(milliseconds=ms)).strftime("%Y%m%d%H%M%S%f")[:-3]


def _payload(rng: random.Random, header: dict, size: int) -> bytes:
    head = json.dumps(header, sort_keys=True).encode()
    pad = max(0, size - len(head) - 1)
    chunk = bytes(rng.choice(b"abcdefghijklmnop") for _ in range(64))
    return head + b"\n" + (chunk * (pad // 64 + 1))[:pad]


@dataclass
class Group:
    kind: str
    files: list[tuple[str, bytes]]  # in write order
    pending: list[tuple[str, bytes]] = field(default_factory=list)  # written when it completes

    @property
    def complete(self) -> bool:
        return not self.pending


@dataclass
class Table:
    name: str
    rel: str  # path relative to the lake root
    layout: int  # 1 or 2
    properties: bytes
    healthy: bool
    excluded: bool
    groups: list[Group] = field(default_factory=list)
    archived: dict[str, bytes] = field(default_factory=dict)  # mirrored archived files
    lsm_extra: dict[str, bytes] = field(default_factory=dict)  # history files never mirrored
    clock_ms: int = 0

    @property
    def timeline_rel(self) -> str:
        return f"{self.rel}/.hoodie" + ("/timeline" if self.layout == 2 else "")

    @property
    def archived_rel(self) -> str:
        return f"{self.timeline_rel}/history" if self.layout == 2 else f"{self.rel}/.hoodie/archived"


class Lake:
    """A generated lake under ``root``; ``round_no`` counts applied rounds."""

    def __init__(self, root: str, profile: LakeProfile, seed: int):
        self.root = os.path.abspath(root)
        self.profile = profile
        self.seed = seed
        self.round_no = 0
        self.tables: list[Table] = []
        self._plan()

    # -- planning --------------------------------------------------------

    def _rng(self, *parts) -> random.Random:
        return random.Random(":".join(str(p) for p in (self.seed, *parts)))

    def _plan(self) -> None:
        p = self.profile
        rng = self._rng("plan")
        n_v2 = round(p.tables * p.v2_share)
        layouts = [2] * n_v2 + [1] * (p.tables - n_v2)
        rng.shuffle(layouts)
        # group counts spread evenly over the profile's range, so every seed
        # gives a lake of the same size
        lo, hi = p.groups
        sizes = [lo + (hi - lo) * i // max(1, p.tables - 1) for i in range(p.tables)]
        rng.shuffle(sizes)
        specs = [(f"tbl_{i:03d}", layouts[i], True, False) for i in range(p.tables)]
        specs += [(f"bad_{i}", 1, False, False) for i in range(len(CORRUPT_PROPERTIES))]
        specs += [("hidden_0", 1, True, True)]
        for i, (name, layout, healthy, excluded) in enumerate(specs):
            db = f"db_{rng.randrange(p.databases)}"
            # some tables sit one level deeper, so discovery walks more than one level
            nest = f"/{['raw', 'curated'][rng.randrange(2)]}" if rng.random() < 0.4 else ""
            if excluded:
                nest = f"/{EXCLUDED_MARKER}"
            rel = f"{db}{nest}/{name}"
            if healthy:
                kind = rng.choice(["COPY_ON_WRITE", "MERGE_ON_READ"])
                props = (
                    f"#Updated at {_TS_BASE.isoformat()}\n"
                    f"hoodie.table.name={name}\nhoodie.table.type={kind}\n"
                    f"hoodie.table.version={8 if layout == 2 else 6}\n"
                    f"hoodie.timeline.layout.version={layout}\n"
                    "hoodie.archivelog.folder=archived\n"
                )
            else:
                props = CORRUPT_PROPERTIES[int(name.split("_")[1])].format(name=name)
            t = Table(name, rel, layout, props.encode(), healthy, excluded)
            t.clock_ms = rng.randrange(10**9)
            trng = self._rng("table", name)
            self._plan_archived(t, trng)
            n_groups = sizes[i] if i < p.tables else 4
            for _ in range(n_groups):
                t.groups.append(self._new_group(t, trng, self._pick_kind(trng)))
            self._close_block(t, trng)
            self.tables.append(t)

    def _pick_kind(self, rng: random.Random) -> str:
        kinds, weights = zip(*self.profile.mix)
        return rng.choices(kinds, weights)[0]

    def _plan_archived(self, t: Table, rng: random.Random) -> None:
        n = rng.randint(*self.profile.archived)
        if t.layout == 1:
            for k in range(1, n + 1):
                name = f".commits_.archive.{k}_1-0-1"
                t.archived[name] = _payload(rng, {"archive": k, "table": t.name}, rng.randint(2000, 8000))
            return
        # LSM history: several manifest versions; the current one lists
        # most files, older compacted-away files stay on disk unlisted
        version = rng.randint(2, 4)
        live, stale = [], []
        for k in range(max(n, 1)):
            name = f"{_ts(k * 3_600_000)}_{_ts(k * 3_600_000 + 1_800_000)}_{rng.randint(0, 2)}.parquet"
            (stale if rng.random() < 0.15 else live).append(name)
        if not live:
            live, stale = stale, []
        for name in live:
            t.archived[name] = _payload(rng, {"lsm": name}, rng.randint(2000, 8000))
        for name in stale:
            t.lsm_extra[name] = _payload(rng, {"lsm": name}, rng.randint(2000, 8000))
        for v in range(1, version + 1):
            listed = live if v == version else stale + live[: len(live) // 2]
            t.lsm_extra[f"manifest_{v}"] = json.dumps(
                {"files": [{"fileName": f, "fileLen": 1} for f in sorted(listed)]}
            ).encode()
        t.lsm_extra["_version_"] = str(version).encode()

    def _new_group(self, t: Table, rng: random.Random, kind: str, incomplete: bool = False) -> Group:
        t.clock_ms += rng.randint(5_000, 900_000)
        ts = _ts(t.clock_ms)
        p = self.profile

        def body(name: str, big: bool) -> bytes:
            size = rng.randint(*p.payload) if big else rng.randint(80, 240)
            return _payload(rng, {"table": t.name, "instant": name}, size)

        if kind in ("rollback", "savepoint"):
            names = [f"{ts}.{kind}.inflight", f"{ts}.{kind}"]
        elif kind == "rollback3":
            names = [f"{ts}.rollback.requested", f"{ts}.rollback.inflight", f"{ts}.rollback"]
        elif kind == "compaction":
            names = [f"{ts}.compaction.requested", f"{ts}.compaction.inflight", f"{ts}.commit"]
        elif kind == "commit" and t.layout == 1 and rng.random() < 0.5:
            # commit-action inflight written without its action token
            names = [f"{ts}.commit.requested", f"{ts}.inflight", f"{ts}.commit"]
        else:
            action = "commit" if kind == "commit" else kind
            done = f"{ts}.{action}"
            if t.layout == 2:
                t.clock_ms += rng.randint(200, 4_000)
                done = f"{ts}_{_ts(t.clock_ms)}.{action}"
            names = [f"{ts}.{action}.requested", f"{ts}.{action}.inflight", done]
        files = [(n, body(n, i == len(names) - 1)) for i, n in enumerate(names)]
        if incomplete:
            return Group(kind, files[:-1], pending=files[-1:])
        return Group(kind, files)

    def _close_block(self, t: Table, rng: random.Random) -> None:
        """End a block of appended groups: a plain triple last (a trailing
        completed rollback pair is held back by the batcher until a later
        group arrives), then maybe an incomplete commit."""
        t.groups.append(self._new_group(t, rng, "deltacommit"))
        if rng.random() < self.profile.trailing_incomplete:
            t.groups.append(self._new_group(t, rng, "deltacommit", incomplete=True))

    # -- writing ---------------------------------------------------------

    def _write(self, rel: str, data: bytes) -> None:
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)

    def write(self) -> None:
        """Write the round-0 tree."""
        os.makedirs(self.root, exist_ok=True)
        # a directory that is neither a table nor leads to one
        os.makedirs(os.path.join(self.root, "db_0", "_landing", "2025"), exist_ok=True)
        for t in self.tables:
            self._write(f"{t.rel}/.hoodie/hoodie.properties", t.properties)
            for name, data in {**t.archived, **t.lsm_extra}.items():
                self._write(f"{t.archived_rel}/{name}", data)
            os.makedirs(os.path.join(self.root, t.rel, "partition=2025-01-01"), exist_ok=True)
            for g in t.groups:
                for name, data in g.files:
                    self._write(f"{t.timeline_rel}/{name}", data)

    def advance(self) -> None:
        """Apply one incremental round: pending commits complete, and every
        healthy table gets ``groups_per_round`` new groups."""
        self.round_no += 1
        for t in self.tables:
            if not t.healthy or t.excluded:
                continue
            rng = self._rng("round", self.round_no, t.name)
            for g in t.groups:
                for name, data in g.pending:
                    self._write(f"{t.timeline_rel}/{name}", data)
                g.files.extend(g.pending)
                g.pending = []
            start = len(t.groups)
            for _ in range(self.profile.groups_per_round - 1):
                t.groups.append(self._new_group(t, rng, self._pick_kind(rng)))
            self._close_block(t, rng)
            for g in t.groups[start:]:
                for name, data in g.files:
                    self._write(f"{t.timeline_rel}/{name}", data)

    # -- expectations ----------------------------------------------------

    def config(self) -> dict:
        """Extractor config (ConfigV1 dict) covering the whole lake."""
        dbs = sorted({t.rel.split("/")[0] for t in self.tables})
        return {
            "version": "V1",
            "metadataExtractorConfig": {
                "jobRunMode": "ONCE",
                "uploadStrategy": "BLOCK_ON_INCOMPLETE_COMMIT",
                "pathExclusionPatterns": list(EXCLUSION_PATTERNS),
                "parserConfig": [
                    {
                        "lake": "bench",
                        "databases": [
                            {"name": db, "basePaths": [f"{self.root}/{db}"]} for db in dbs
                        ],
                    }
                ],
            },
        }

    def table_uri(self, t: Table) -> str:
        return f"{self.root}/{t.rel}"

    def expected_files(self) -> dict[str, bytes]:
        """Mirror relpath (``table_id/timeline/file``) -> the bytes a correct
        extractor has mirrored by now."""
        out: dict[str, bytes] = {}
        for t in self.tables:
            if not t.healthy or t.excluded:
                continue
            tid = table_id_for(self.table_uri(t))
            # hoodie.properties rides the first uploaded batch: the v1
            # archived timeline's when there is one, else the active one
            props_in = "archived" if (t.layout == 1 and t.archived) else "active"
            out[f"{tid}/{props_in}/hoodie.properties"] = t.properties
            for name, data in t.archived.items():
                out[f"{tid}/archived/{name}"] = data
            for g in t.groups:
                if not g.complete:
                    break
                for name, data in g.files:
                    out[f"{tid}/active/{name}"] = data
        return out

    def expected_mirror(self) -> dict[str, str]:
        """Mirror relpath -> sha1 of the expected bytes."""
        return {k: hashlib.sha1(v).hexdigest() for k, v in self.expected_files().items()}

    @property
    def corrupt_tables(self) -> int:
        return sum(1 for t in self.tables if not t.healthy and not t.excluded)

    @property
    def discoverable_tables(self) -> int:
        return sum(1 for t in self.tables if not t.excluded)


def tree_digest(root: str) -> dict[str, str]:
    """Relative path -> sha1 for every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha1(f.read()).hexdigest()
    return out
