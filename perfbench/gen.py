"""Seeded input generators for the sync-tick benchmark.

Pure Python: the engine only ever sees the files these classes write.
Each generator also keeps the state the engine should converge to, so
the benchmark can check every tick's output against it.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

NODE_LABELS = ("bucket", "org", "project", "version", "packer_build")
EDGE_TYPES = (
    ("org", "has", "project"),
    ("project", "has", "bucket"),
    ("bucket", "creates", "version"),
    ("version", "creates", "packer_build"),
)
#: node label -> sync function key (``plans.pipeline.packer_registry_integration``)
NODE_FUNCTION = {
    "bucket": "CREATE_NODE:bucket",
    "org": "CREATE_NODE:organization",
    "project": "CREATE_NODE:project",
    "version": "CREATE_NODE:version",
    "packer_build": "CREATE_NODE:packer_build",
}
#: buckets per JSON-lines page
PAGE_SIZE = 100
#: share of an upsert batch's re-delivered keys that carry a new ``updated_at``
CHANGED_SHARE = 0.25


def write_atomic(path: str, lines: list[str]) -> None:
    """Write ``lines`` to ``path`` through a rename, so a file source
    never lists a half-written file (readers skip dot-files)."""
    head, tail = os.path.split(path)
    tmp = os.path.join(head, f".{tail}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


@dataclass(frozen=True)
class Churn:
    updated: int
    deleted: int
    created: int


class PackerRegistry:
    """Packer-registry documents (``operators.transforms.PACKER_SOURCE_SCHEMA``)
    as JSON-lines pages of ``PAGE_SIZE`` buckets each.

    Each bucket yields one bucket, one version and 0-3 build nodes, plus
    one project->bucket, one bucket->version and one version->build edge
    per build; orgs and projects are shared pools.
    """

    def __init__(self, seed: int, n_buckets: int) -> None:
        self.rng = random.Random(seed)
        self.n_projects = max(1, n_buckets // 20)
        self.n_orgs = max(1, self.n_projects // 10)
        self.buckets: dict[str, dict] = {}
        self._next = 0
        self._stamp = 0
        for _ in range(n_buckets):
            self._create()

    def _timestamp(self) -> str:
        self._stamp += 1
        return f"2025-01-01T00:00:00.{self._stamp:06d}Z"

    def _create(self) -> None:
        i = self._next
        self._next += 1
        proj = self.rng.randrange(self.n_projects)
        ts = self._timestamp()
        builds = [
            {"id": f"build-{i:07d}-{k}", "created_at": ts, "updated_at": ts}
            for k in range(self.rng.randrange(4))
        ]
        bid = f"bkt-{i:07d}"
        self.buckets[bid] = {
            "id": bid,
            "name": f"image-{i}",
            "created-at": ts,
            "updated-at": ts,
            "resource_name": f"packer/{bid}",
            "location": {
                "organization_id": f"org-{proj % self.n_orgs:04d}",
                "project_id": f"proj-{proj:05d}",
            },
            "latest_version": {
                "id": f"ver-{i:07d}",
                "name": f"v1.{i % 97}.0",
                "builds": builds,
            },
        }

    def churn(self, update: float, delete: float, create: float) -> Churn:
        """Update (new ``updated-at``), delete and create the given
        fractions of buckets, keys chosen uniformly."""
        n = len(self.buckets)
        n_upd, n_del, n_new = (max(1, round(f * n)) for f in (update, delete, create))
        picked = self.rng.sample(sorted(self.buckets), n_upd + n_del)
        for bid in picked[:n_upd]:
            self.buckets[bid]["updated-at"] = self._timestamp()
        for bid in picked[n_upd:]:
            del self.buckets[bid]
        for _ in range(n_new):
            self._create()
        return Churn(updated=n_upd, deleted=n_del, created=n_new)

    def write_pages(self, directory: str) -> None:
        os.makedirs(directory, exist_ok=True)
        ids = sorted(self.buckets)
        pages = [
            json.dumps({"buckets": [self.buckets[b] for b in ids[p : p + PAGE_SIZE]]})
            for p in range(0, len(ids), PAGE_SIZE)
        ]
        write_atomic(os.path.join(directory, "pages.jsonl"), pages)

    def node_tokens(self) -> dict[str, dict[str, object]]:
        """label -> {external_id: change token}. A node's change hash
        moves exactly when its token does (its ``updated_at``, else the
        whole record)."""
        out: dict[str, dict[str, object]] = {label: {} for label in NODE_LABELS}
        for b in self.buckets.values():
            loc, ver = b["location"], b["latest_version"]
            out["bucket"][b["id"]] = b["updated-at"]
            out["org"][loc["organization_id"]] = ()
            out["project"][loc["project_id"]] = ()
            out["version"][ver["id"]] = ver["name"]
            for bd in ver["builds"]:
                out["packer_build"][bd["id"]] = bd["updated_at"]
        return out

    def edge_counts(self) -> dict[tuple[str, str, str], int]:
        org_proj = set()
        n_builds = 0
        for b in self.buckets.values():
            loc = b["location"]
            org_proj.add((loc["organization_id"], loc["project_id"]))
            n_builds += len(b["latest_version"]["builds"])
        n = len(self.buckets)
        return dict(zip(EDGE_TYPES, (len(org_proj), n, n, n_builds)))


def node_diff(
    before: dict[str, dict[str, object]], after: dict[str, dict[str, object]]
) -> dict[str, tuple[int, int]]:
    """label -> (created, deleted) the reconcile step must report."""
    out = {}
    for label in NODE_LABELS:
        old, new = before[label], after[label]
        created = sum(1 for k, tok in new.items() if old.get(k, object()) != tok)
        out[label] = (created, sum(1 for k in old if k not in new))
    return out


class UpsertFeed:
    """Flat records for ``streaming_sync(mode="upsert")``: each batch is
    half new keys and half re-deliveries of existing keys, a
    ``CHANGED_SHARE`` of which carry a new ``updated_at``."""

    SCHEMA = "external_id string, name string, updated_at string, payload string"

    def __init__(self, seed: int, batch_rows: int) -> None:
        self.rng = random.Random(seed)
        self.batch_rows = batch_rows
        self.keys: list[str] = []
        self.version: dict[str, int] = {}

    def _record(self, key: str) -> str:
        return json.dumps({
            "external_id": key,
            "name": f"item {key}",
            "updated_at": f"2025-01-01T00:00:00Z#{self.version[key]}",
            "payload": f"{key}/{self.version[key]}/" + "x" * 32,
        })

    def next_batch(self) -> tuple[list[str], int]:
        """JSON lines of one batch, and how many of them the sync must
        create (new keys plus changed re-deliveries)."""
        n_old = min(len(self.keys), self.batch_rows // 2)
        old = self.rng.sample(self.keys, n_old)
        new = [f"key-{len(self.keys) + i:08d}" for i in range(self.batch_rows - n_old)]
        changed = 0
        for key in old:
            if self.rng.random() < CHANGED_SHARE:
                self.version[key] += 1
                changed += 1
        for key in new:
            self.version[key] = 0
        self.keys.extend(new)
        batch = old + new
        self.rng.shuffle(batch)
        return [self._record(k) for k in batch], len(new) + changed
