"""Resource catalog: Collection -> Experiment -> CoordinateFrame -> Channel.

The reference's project/resource layer (resource.py:121-302) as plain
dataclasses plus a catalog DataFrame (one row per channel, nested structs),
with the resolution-hierarchy math (get_isotropic_level /
get_downsampled_voxel_dims / get_downsampled_extent_dims,
resource.py:21-118) reimplemented from its documented behavior.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from spdb_spark.constants import CHANNEL_DATATYPES, NUM_HIERARCHY_LEVELS


@dataclass
class Collection:
    name: str
    description: str = ""


@dataclass
class CoordinateFrame:
    name: str
    x_start: int = 0
    x_stop: int = 1
    y_start: int = 0
    y_stop: int = 1
    z_start: int = 0
    z_stop: int = 1
    x_voxel_size: float = 1.0
    y_voxel_size: float = 1.0
    z_voxel_size: float = 1.0
    voxel_unit: str = "nanometers"


@dataclass
class Experiment:
    name: str
    description: str = ""
    num_hierarchy_levels: int = 1
    hierarchy_method: str = "anisotropic"  # or "isotropic"
    num_time_samples: int = 1
    time_step: int = 0
    time_step_unit: str = "seconds"


@dataclass
class Channel:
    name: str
    type: str = "image"  # image | annotation
    datatype: str = "uint8"
    base_resolution: int = 0
    sources: list[str] = field(default_factory=list)
    related: list[str] = field(default_factory=list)
    default_time_sample: int = 0
    downsample_status: str = "NOT_DOWNSAMPLED"
    storage_type: str = "spdb"

    def __post_init__(self):
        if self.datatype not in CHANNEL_DATATYPES:
            raise ValueError(f"unsupported datatype {self.datatype!r}")
        if self.type not in ("image", "annotation"):
            raise ValueError(f"unsupported channel type {self.type!r}")

    def is_image(self) -> bool:
        return self.type == "image"


@dataclass
class Resource:
    """One queryable dataset = (collection, experiment, coord_frame, channel)
    — the reference's BossResource (resource.py:283-302)."""

    collection: Collection
    experiment: Experiment
    coord_frame: CoordinateFrame
    channel: Channel
    lookup_key: str = ""
    boss_key: str = ""

    def __post_init__(self):
        if not self.boss_key:
            self.boss_key = (
                f"{self.collection.name}&{self.experiment.name}&{self.channel.name}"
            )

    # -- hierarchy math (reference: resource.py:21-118) ---------------------

    def get_isotropic_level(self) -> int:
        """First level where z voxel size catches up to x under repeated
        x/y-halving (anisotropic experiments downsample x,y only until
        voxels become isotropic)."""
        vx, vz = self.coord_frame.x_voxel_size, self.coord_frame.z_voxel_size
        level = 0
        while vx < vz and level < self.experiment.num_hierarchy_levels - 1:
            vx *= 2
            level += 1
        return level

    def get_downsampled_voxel_dims(self, iso: bool = False) -> list[list[float]]:
        """Per-level [x,y,z] physical voxel sizes."""
        out = []
        vx = self.coord_frame.x_voxel_size
        vy = self.coord_frame.y_voxel_size
        vz = self.coord_frame.z_voxel_size
        iso_level = self.get_isotropic_level()
        for level in range(self.experiment.num_hierarchy_levels):
            out.append([vx, vy, vz])
            vx *= 2
            vy *= 2
            if self.experiment.hierarchy_method == "isotropic" or (
                iso and level >= iso_level
            ):
                vz *= 2
        return out

    def get_downsampled_extent_dims(self, iso: bool = False) -> list[list[int]]:
        """Per-level [x,y,z] voxel extents (ceil halving)."""
        out = []
        ex = self.coord_frame.x_stop - self.coord_frame.x_start
        ey = self.coord_frame.y_stop - self.coord_frame.y_start
        ez = self.coord_frame.z_stop - self.coord_frame.z_start
        iso_level = self.get_isotropic_level()
        for level in range(self.experiment.num_hierarchy_levels):
            out.append([ex, ey, ez])
            ex = -(-ex // 2)
            ey = -(-ey // 2)
            if self.experiment.hierarchy_method == "isotropic" or (
                iso and level >= iso_level
            ):
                ez = -(-ez // 2)
        return out

    def get_bit_depth(self) -> int:
        return {"uint8": 8, "uint16": 16, "uint64": 64}[self.channel.datatype]

    def get_numpy_data_type(self):
        import numpy as np

        return np.dtype(self.channel.datatype)


def catalog_df(spark: SparkSession, resources: list[Resource]) -> DataFrame:
    """Catalog table: one row per channel with nested structs — queryable
    metadata replacing the reference's Django-model lookups."""
    rows = []
    for r in resources:
        rows.append(
            {
                "lookup_key": r.lookup_key or r.boss_key,
                "boss_key": r.boss_key,
                "collection": {"name": r.collection.name, "description": r.collection.description},
                "experiment": {
                    "name": r.experiment.name,
                    "num_hierarchy_levels": r.experiment.num_hierarchy_levels,
                    "hierarchy_method": r.experiment.hierarchy_method,
                    "num_time_samples": r.experiment.num_time_samples,
                },
                "coord_frame": {
                    "x_start": r.coord_frame.x_start, "x_stop": r.coord_frame.x_stop,
                    "y_start": r.coord_frame.y_start, "y_stop": r.coord_frame.y_stop,
                    "z_start": r.coord_frame.z_start, "z_stop": r.coord_frame.z_stop,
                    "x_voxel_size": float(r.coord_frame.x_voxel_size),
                    "y_voxel_size": float(r.coord_frame.y_voxel_size),
                    "z_voxel_size": float(r.coord_frame.z_voxel_size),
                    "voxel_unit": r.coord_frame.voxel_unit,
                },
                "channel": {
                    "name": r.channel.name, "type": r.channel.type,
                    "datatype": r.channel.datatype,
                    "base_resolution": r.channel.base_resolution,
                    "sources": r.channel.sources,
                    "default_time_sample": r.channel.default_time_sample,
                    "downsample_status": r.channel.downsample_status,
                },
            }
        )
    # explicit schema: inference can't type empty `sources` lists
    schema = (
        "lookup_key string, boss_key string, "
        "collection struct<name:string, description:string>, "
        "experiment struct<name:string, num_hierarchy_levels:int, "
        "hierarchy_method:string, num_time_samples:int>, "
        "coord_frame struct<x_start:bigint, x_stop:bigint, y_start:bigint, "
        "y_stop:bigint, z_start:bigint, z_stop:bigint, x_voxel_size:double, "
        "y_voxel_size:double, z_voxel_size:double, voxel_unit:string>, "
        "channel struct<name:string, type:string, datatype:string, "
        "base_resolution:int, sources:array<string>, "
        "default_time_sample:int, downsample_status:string>"
    )
    return spark.createDataFrame(rows, schema)


def resource_to_dict(r: Resource) -> dict:
    """JSON-able resource serde (reference: resource.py:304-337 to_json /
    basicresource.py:37-63 from_json round-trip)."""
    from dataclasses import asdict

    return {
        "lookup_key": r.lookup_key,
        "boss_key": r.boss_key,
        "collection": asdict(r.collection),
        "experiment": asdict(r.experiment),
        "coord_frame": asdict(r.coord_frame),
        "channel": asdict(r.channel),
    }


def resource_from_dict(d: dict) -> Resource:
    return Resource(
        Collection(**d["collection"]),
        Experiment(**d["experiment"]),
        CoordinateFrame(**d["coord_frame"]),
        Channel(**d["channel"]),
        lookup_key=d.get("lookup_key", ""),
        boss_key=d.get("boss_key", ""),
    )


def resource_to_json(r: Resource) -> str:
    import json

    return json.dumps(resource_to_dict(r), sort_keys=True)


def resource_from_json(s: str) -> Resource:
    import json

    return resource_from_dict(json.loads(s))


def reserve_ids(spark: SparkSession, counter_path: str, lookup_key: str, num_ids: int) -> tuple[int, int]:
    """Sequential id-block reservation per channel (reference:
    object_indices.py:667-728 conditional-counter semantics). Single-row
    counter file at the driver — not a data-parallel op. Returns
    [start, start+num_ids) like the reference's numpy arange.

    The read-modify-write holds an exclusive fcntl lock on a sidecar lock
    file for its whole duration, so concurrent drivers get disjoint blocks
    — the parity for the reference's DynamoDB conditional-update counter.
    (A lock file, not the counter itself, because the atomic rename swaps
    the counter inode out from under any lock held on it.)"""
    import fcntl
    import json
    import os

    from spdb_spark.commit import write_atomic

    os.makedirs(os.path.dirname(counter_path) or ".", exist_ok=True)
    with open(counter_path + ".lock", "w") as lockf:
        fcntl.flock(lockf, fcntl.LOCK_EX)
        try:
            counters = {}
            if os.path.exists(counter_path):
                with open(counter_path) as f:
                    counters = json.load(f)
            start = counters.get(lookup_key, 1)
            counters[lookup_key] = start + num_ids
            write_atomic(counter_path, json.dumps(counters))
        finally:
            fcntl.flock(lockf, fcntl.LOCK_UN)
    return start, start + num_ids


# ---------------------------------------------------------------------------
# Durable channel registry: one JSON file per channel under
# <root>/catalog/. The reference keeps channel state (notably
# downsample_status) on Django-backed resources (resource.py:246-259);
# here the registry is the driver-side system-of-record so state set by
# one session (e.g. a completed downsample) is visible after restart.
# ---------------------------------------------------------------------------

def _catalog_entry_path(root: str, lookup_key: str) -> str:
    import os

    safe = lookup_key.replace("&", "_").replace("/", "_")
    return os.path.join(root, "catalog", f"{safe}.json")


def save_resource(root: str, r: Resource) -> str:
    """Persist a resource to the registry (atomic replace). Returns path."""
    import os

    from spdb_spark.commit import write_atomic

    path = _catalog_entry_path(root, r.lookup_key or r.boss_key)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_atomic(path, resource_to_json(r))
    return path


def load_resource(root: str, lookup_key: str) -> Resource | None:
    """Load a registered resource; None if never saved."""
    import os

    path = _catalog_entry_path(root, lookup_key)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return resource_from_json(f.read())


def list_resources(root: str) -> list[Resource]:
    import glob
    import os

    out = []
    for path in sorted(glob.glob(os.path.join(root, "catalog", "*.json"))):
        with open(path) as f:
            out.append(resource_from_json(f.read()))
    return out
