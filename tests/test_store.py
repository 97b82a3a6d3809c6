"""CuboidStore round-trips — the reference's own smoke-test style
(int_test_spatialdb.py:39-530): write random cube, cut it back, arrays equal;
merge-mode truth tables; time samples; id filter."""

import numpy as np
import pytest

from spdb_spark.store import CuboidStore


@pytest.fixture(params=["overwrite"])
def store(spark, tmp_path):
    """Store for the PUBLISH-SEAM tests: they observe which partitions and
    files the commit rewrites or removes. The param id names the publisher
    they exercise (dynamic partition overwrite, CuboidStore's only one)."""
    return CuboidStore(spark, str(tmp_path / "blocks"), datatype="uint8")


@pytest.fixture
def store1(spark, tmp_path):
    """Store for tests whose result is fixed before the publish step
    (merge-mode truth tables, read paths)."""
    return CuboidStore(spark, str(tmp_path / "blocks"), datatype="uint8")


def random_cube(shape, seed, lo=1, hi=254):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi, size=shape).astype("uint8")


def test_aligned_single_cuboid_roundtrip(store):
    data = random_cube((16, 512, 512), 1)
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)


def test_unaligned_multi_cuboid_roundtrip(store1):
    data = random_cube((24, 700, 600), 2)
    store1.write_cuboid(data, (300, 400, 7))
    out = store1.cutout((300, 400, 7), (600, 700, 24))
    np.testing.assert_array_equal(out[0], data)


def test_partial_read(store1):
    data = random_cube((16, 512, 512), 3)
    store1.write_cuboid(data, (0, 0, 0))
    out = store1.cutout((100, 200, 4), (50, 60, 8))
    np.testing.assert_array_equal(out[0], data[4:12, 200:260, 100:150])


def test_unwritten_region_is_zeros(store1):
    data = random_cube((16, 512, 512), 4)
    store1.write_cuboid(data, (0, 0, 0))
    out = store1.cutout((600, 600, 0), (64, 64, 16))
    assert out.sum() == 0


def test_overwrite_merge_semantics(store1):
    base = random_cube((16, 512, 512), 5)
    store1.write_cuboid(base, (0, 0, 0))
    patch = np.zeros((8, 100, 100), dtype="uint8")
    patch[::2, ::3, ::5] = 77  # sparse non-zero voxels
    store1.write_cuboid(patch, (50, 50, 4))
    out = store1.cutout((0, 0, 0), (512, 512, 16))[0]
    expected = base.copy()
    region = expected[4:12, 50:150, 50:150]
    region[patch != 0] = patch[patch != 0]  # non-zero overwrites only
    np.testing.assert_array_equal(out, expected)


def test_exception_merge_fills_only_zeros(store1):
    base = np.zeros((16, 512, 512), dtype="uint8")
    base[0:4] = 9
    store1.write_cuboid(base, (0, 0, 0))
    fill = np.full((8, 64, 64), 33, dtype="uint8")
    store1.write_cuboid(fill, (0, 0, 0), mode="exception")
    out = store1.cutout((0, 0, 0), (512, 512, 16))[0]
    assert (out[0:4, :64, :64] == 9).all()       # existing preserved
    assert (out[4:8, :64, :64] == 33).all()      # zeros filled
    assert (out[8:, :64, :64] == 0).all()


def test_to_black_erases_masked(store1):
    base = random_cube((16, 512, 512), 6)
    store1.write_cuboid(base, (0, 0, 0))
    mask = np.zeros((4, 64, 64), dtype="uint8")
    mask[:, :32, :] = 1
    store1.write_cuboid(mask, (0, 0, 0), mode="to_black")
    out = store1.cutout((0, 0, 0), (512, 512, 16))[0]
    assert out[0:4, 0:32, 0:64].sum() == 0
    np.testing.assert_array_equal(out[0:4, 32:64, 0:64], base[0:4, 32:64, 0:64])


def test_to_black_full_erase_clears_partition(store):
    """Erasing EVERY surviving voxel of a super-block must remove its
    parquet partition: dynamic overwrite alone never rewrites a partition
    absent from the merge output (round-1 ADVICE high bug)."""
    data = np.zeros((16, 64, 64), dtype="uint8")
    data[:4, :8, :8] = 7
    store.write_cuboid(data, (0, 0, 0))
    mask = np.ones((16, 512, 512), dtype="uint8")
    store.write_cuboid(mask, (0, 0, 0), mode="to_black")
    out = store.cutout((0, 0, 0), (512, 512, 16))
    assert out.sum() == 0
    # and the store stays writable afterwards
    store.write_cuboid(data, (0, 0, 0))
    assert store.cutout((0, 0, 0), (64, 64, 16)).sum() == data.sum()


def test_to_black_partial_erase_keeps_other_superblocks(store):
    """An erase that empties one super-block must not disturb another."""
    a = random_cube((16, 128, 128), 22)
    store.write_cuboid(a, (0, 0, 0))  # pgroup 0
    b = random_cube((16, 128, 128), 23)
    store.write_cuboid(b, (16 * 512, 0, 0))  # pgroup 1
    mask = np.ones((16, 128, 128), dtype="uint8")
    store.write_cuboid(mask, (0, 0, 0), mode="to_black")
    assert store.cutout((0, 0, 0), (128, 128, 16)).sum() == 0
    np.testing.assert_array_equal(
        store.cutout((16 * 512, 0, 0), (128, 128, 16))[0], b
    )


def test_time_samples_and_missing_step_zeros(store1):
    t0 = random_cube((16, 64, 64), 7)
    t2 = random_cube((16, 64, 64), 8)
    store1.write_cuboid(t0, (0, 0, 0), time_sample_start=0)
    store1.write_cuboid(t2, (0, 0, 0), time_sample_start=2)
    out = store1.cutout((0, 0, 0), (64, 64, 16), time_sample_range=(0, 3))
    np.testing.assert_array_equal(out[0], t0)
    assert out[1].sum() == 0  # missing middle step renders as zeros
    np.testing.assert_array_equal(out[2], t2)


def test_filtered_cutout(store1):
    data = np.zeros((16, 128, 128), dtype="uint8")
    data[0, 0, 0:10] = 5
    data[0, 1, 0:10] = 7
    data[0, 2, 0:10] = 9
    store1.write_cuboid(data, (0, 0, 0))
    out = store1.cutout((0, 0, 0), (128, 128, 16), filter_ids=[5, 9])
    assert set(np.unique(out)) == {0, 5, 9}
    assert (out[0, 0, 0, 0:10] == 5).all()
    assert (out[0, 0, 1, 0:10] == 0).all()


def test_uint64_annotation_roundtrip(spark, tmp_path):
    store = CuboidStore(spark, str(tmp_path / "anno"), datatype="uint64")
    data = np.zeros((16, 512, 512), dtype="uint64")
    data[2:6, 10:40, 10:40] = 10**15  # beyond uint32
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)


def test_writes_rewrite_only_touched_superblocks(store, spark, tmp_path):
    """Write cost must track the write, not the channel: parquet files in
    untouched super-block partitions stay byte-identical on later writes."""
    import glob
    import os

    a = random_cube((16, 128, 128), 20)
    store.write_cuboid(a, (0, 0, 0))  # pgroup 0
    files_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(store.path + "/**/*.parquet", recursive=True)
    }
    assert files_before
    # far-away write lands in a different super-block (x_idx=16 -> morton
    # 4096 -> pgroup 1)
    b = random_cube((16, 128, 128), 21)
    store.write_cuboid(b, (16 * 512, 0, 0))
    files_after = {
        p: os.path.getmtime(p)
        for p in glob.glob(store.path + "/**/*.parquet", recursive=True)
    }
    assert set(files_before) < set(files_after)  # new partition added
    for p, mtime in files_before.items():
        assert files_after[p] == mtime  # pgroup-0 files untouched
    # both regions readable
    import numpy as np
    np.testing.assert_array_equal(store.cutout((0, 0, 0), (128, 128, 16))[0], a)
    np.testing.assert_array_equal(
        store.cutout((16 * 512, 0, 0), (128, 128, 16))[0], b
    )


def test_get_cubes_by_morton(store1):
    from spdb_spark.morton import xyz_morton

    data = random_cube((16, 512, 1024), 30)  # cuboids (0,0,0) and (1,0,0)
    store1.write_cuboid(data, (0, 0, 0))
    m0, m1 = xyz_morton(0, 0, 0), xyz_morton(1, 0, 0)
    m_absent = xyz_morton(5, 5, 5)
    cubes = store1.get_cubes([m1, m0, m_absent])
    assert sorted(cubes) == sorted([m0, m1, m_absent])
    np.testing.assert_array_equal(cubes[m0], data[:, :, :512])
    np.testing.assert_array_equal(cubes[m1], data[:, :, 512:])
    assert cubes[m_absent].sum() == 0  # absent -> zero cube


def test_uint64_full_range_roundtrip(spark, tmp_path):
    """Values in [2^63, 2^64) must survive write+cutout bit-exactly: the
    voxel/long representation is the two's-complement view, and both the
    codec and assembly reinterpret through the same view (SURVEY §1.2
    'unsigned-dtype fidelity at uint64 boundaries')."""
    store = CuboidStore(spark, str(tmp_path / "anno64"), datatype="uint64")
    data = np.zeros((16, 512, 512), dtype="uint64")
    data[0, 0, 0] = 2**64 - 1
    data[0, 0, 1] = 2**63 + 5
    data[1, 2, 3] = 2**63
    data[2, 4, 6] = 2**63 - 1  # max signed, for contrast
    store.write_cuboid(data, (0, 0, 0))
    out = store.cutout((0, 0, 0), (512, 512, 16))
    np.testing.assert_array_equal(out[0], data)

    # merge semantics hold across the boundary: a second write of a
    # different >2^63 id overwrites (non-zero wins), zeros never erase
    data2 = np.zeros((16, 512, 512), dtype="uint64")
    data2[0, 0, 0] = 2**63 + 99
    store.write_cuboid(data2, (0, 0, 0))
    out2 = store.cutout((0, 0, 0), (512, 512, 16))
    assert out2[0][0, 0, 0] == 2**63 + 99
    assert out2[0][0, 0, 1] == 2**63 + 5  # untouched by zero
