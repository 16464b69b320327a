"""driverexec.read_rows against a brute-force reference, and its pruning.

read_rows answers point reads from a per-dir key directory and decodes
only the row groups that hold the wanted keys. The differential tests
check that it returns exactly what a full-table pandas filter returns —
same rows, row order, columns and dtypes — on multi-file, multi-shard,
multi-row-group fixtures and on the shared built index. The pruning
tests spy on the one decode call and on key-directory loads.
"""

from __future__ import annotations

import random
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from cantine_spark.execution import driverexec

FIELDS = ("content", "path")
N_SHARDS = 4
N_FILES = 3  # files per shard dir (segments) / in the flat dir (champions)


def _file_of(field: str, term: str) -> int:
    # the encode shuffle hash-scatters keys over files
    return zlib.crc32(f"{field}/{term}".encode()) % N_FILES


def _seg_rows(rnd: random.Random, vocab: list[tuple[str, str]], shard: int,
              with_min: bool) -> list[dict]:
    rows = []
    for f, t in vocab:
        if rnd.random() < 0.3:
            continue  # not every term occurs in every shard
        for block in range(rnd.randint(1, 3)):
            row = {"field": f, "term": t, "block_id": block,
                   "first_doc": shard * 1000 + block * 128,
                   "n_docs": rnd.randint(1, 128),
                   "doc_deltas": rnd.randbytes(rnd.randint(1, 9)),
                   "tfs": rnd.randbytes(3), "dls": rnd.randbytes(3),
                   "max_tfnorm": rnd.random()}
            if with_min:
                row["min_tfnorm"] = rnd.random() / 2
            rows.append(row)
    return rows


def _write_segments(root, rnd, vocab, with_min=True, shuffle=False) -> str:
    """Hive shard=N dirs, N_FILES files each, keys hash-scattered over the
    files, each file sorted by (field, term, block_id) — or, with
    `shuffle`, in random row order — and cut into small row groups."""
    for shard in range(N_SHARDS):
        d = root / f"shard={shard}"
        d.mkdir(parents=True)
        rows = _seg_rows(rnd, vocab, shard, with_min)
        for i in range(N_FILES):
            part = [r for r in rows if _file_of(r["field"], r["term"]) == i]
            part.sort(key=lambda r: (r["field"], r["term"], r["block_id"]))
            if shuffle:
                rnd.shuffle(part)
            if part:
                pq.write_table(pa.Table.from_pylist(part),
                               d / f"part-{i:05d}.parquet", row_group_size=5)
    (root / "_SUCCESS").write_text("")
    return str(root)


def _write_champions(root, rnd, vocab) -> str:
    """Flat files with a `shard` data column, sorted by (field, term,
    shard) per file, keys hash-scattered over the files."""
    root.mkdir(parents=True)
    rows = [{"field": f, "term": t, "shard": s, "n_total": rnd.randint(1, 99),
             "doc_ids": rnd.randbytes(4), "tail_tfnorm": rnd.random()}
            for f, t in vocab for s in range(N_SHARDS) if rnd.random() < 0.7]
    for i in range(N_FILES):
        part = sorted(
            (r for r in rows if _file_of(r["field"], r["term"]) == i),
            key=lambda r: (r["field"], r["term"], r["shard"]))
        pq.write_table(pa.Table.from_pylist(
            part, schema=pa.schema([("field", pa.string()),
                                    ("term", pa.string()),
                                    ("shard", pa.int32()),
                                    ("n_total", pa.int64()),
                                    ("doc_ids", pa.binary()),
                                    ("tail_tfnorm", pa.float64())])),
            root / f"part-{i:05d}.parquet", row_group_size=4)
    return str(root)


SEG_COLS = ("field", "term", "first_doc", "n_docs", "doc_deltas",
            "max_tfnorm", "min_tfnorm")
CHAMP_COLS = ("field", "term", "shard", "n_total", "doc_ids", "tail_tfnorm")


@pytest.fixture(scope="module")
def fixture(tmp_path_factory):
    root = tmp_path_factory.mktemp("keydir")
    rnd = random.Random(7)
    vocab = [(f, f"t{i:03d}") for f in FIELDS for i in range(40)]
    return {
        "vocab": vocab,
        "seg": _write_segments(root / "seg", rnd, vocab),
        "seg_tier2": _write_segments(root / "seg_tier2", rnd, vocab[::3],
                                     shuffle=True),
        "seg_nomin": _write_segments(root / "seg_nomin", rnd, vocab,
                                     with_min=False),
        "champ": _write_champions(root / "champ", rnd, vocab),
    }


def brute_force(spec, terms, columns, shards=None) -> pd.DataFrame:
    """read_rows' contract by hand: scan every tier's full table, keep the
    rows of `terms` (and `shards`), zero-fill absent optional columns,
    rescale the tier's bounds, concatenate the tiers in spec order."""
    want = list(columns) + (["shard"] if "shard" not in columns else [])
    frames = []
    for entry in spec:
        d, factors = (entry, {}) if isinstance(entry, str) else entry
        ds = pads.dataset(d, format="parquet", partitioning="hive")
        have = [c for c in want if c in ds.schema.names]
        full = ds.to_table(columns=have).to_pandas()
        keep = pd.Series([(f, t) in terms for f, t in
                          zip(full["field"], full["term"])], dtype=bool)
        if shards is not None:
            keep &= full["shard"].isin(list(shards)).to_numpy()
        pdf = full[keep.to_numpy()].reset_index(drop=True)
        for c in want:
            if c not in have:
                pdf[c] = 0.0
        if factors and len(pdf):
            up = pdf["field"].map({f: v[0] for f, v in factors.items()})
            dn = pdf["field"].map({f: v[1] for f, v in factors.items()})
            pdf["max_tfnorm"] = pdf["max_tfnorm"] * up.fillna(1.0)
            pdf["min_tfnorm"] = pdf["min_tfnorm"] * dn.fillna(1.0)
        frames.append(pdf)
    out = pd.concat(frames, ignore_index=True) if len(frames) > 1 \
        else frames[0]
    out["shard"] = out["shard"].astype(np.int32)
    return out


def _check(spec, terms, columns, shards=None):
    driverexec.invalidate_caches()
    got = driverexec.read_rows(spec, terms, columns, shards=shards)
    pd.testing.assert_frame_equal(got, brute_force(spec, terms, columns,
                                                   shards),
                                  check_exact=True)
    return got


def test_every_single_term(fixture):
    seg, champ = fixture["seg"], fixture["champ"]
    for ft in fixture["vocab"] + [("content", "absent")]:
        rows = _check([seg], {ft}, SEG_COLS)
        assert set(zip(rows["field"], rows["term"])) <= {ft}
        _check([champ], {ft}, CHAMP_COLS)


def test_random_multi_term_and_shard_sets(fixture):
    rnd = random.Random(11)
    vocab = fixture["vocab"]
    absent = [("content", "nope"), ("path", "t000x"), ("nofield", "t001")]
    shard_sets = [None, {0}, {1, 3}, set(range(N_SHARDS)), {0, 99}, {99}]
    for _ in range(60):
        terms = set(rnd.sample(vocab, rnd.randint(2, 9)))
        if rnd.random() < 0.5:
            terms |= set(rnd.sample(absent, rnd.randint(1, 2)))
        shards = rnd.choice(shard_sets)
        _check([fixture["seg"]], terms, SEG_COLS, shards)
        _check([fixture["seg_tier2"]], terms, SEG_COLS, shards)
        _check([fixture["champ"]], terms, CHAMP_COLS, shards)


def test_tiered_spec_with_rescale(fixture):
    rnd = random.Random(12)
    spec = [(fixture["seg"], {"content": (1.25, 0.75)}),
            (fixture["seg_tier2"], {"path": (2.0, 0.5)})]
    for _ in range(20):
        terms = set(rnd.sample(fixture["vocab"], rnd.randint(1, 6)))
        got = _check(spec, terms, SEG_COLS, rnd.choice([None, {2}, {0, 1}]))
        assert got["max_tfnorm"].dtype == np.float64


def test_table_without_min_tfnorm_reads_zero(fixture):
    terms = set(fixture["vocab"][:10])
    got = _check([fixture["seg_nomin"]], terms, SEG_COLS)
    assert len(got) and (got["min_tfnorm"] == 0.0).all()
    # mixed tiers: one with the column, one without
    _check([fixture["seg"], (fixture["seg_nomin"], {"content": (1.5, 0.5)})],
           terms, SEG_COLS, {1, 2})


def test_built_index_matches_brute_force(reader):
    """The same contract on the real build layout (Spark-written files)."""
    seg = reader.segment_point_spec()
    champ = reader.champion_point_spec()
    d = seg[0][0]
    keys = pads.dataset(d, format="parquet", partitioning="hive").to_table(
        columns=["field", "term"]).to_pandas()
    vocab = sorted(set(zip(keys["field"], keys["term"])))
    ids = driverexec.shard_ids(seg)
    rnd = random.Random(13)
    cols = driverexec.SEG_COLUMNS + ("positions",)
    for ft in rnd.sample(vocab, min(40, len(vocab))):
        _check(seg, {ft}, cols)
        _check(champ, {ft}, driverexec.CHAMP_COLUMNS)
    for _ in range(20):
        terms = set(rnd.sample(vocab, 4)) | {("content", "zz-absent")}
        shards = rnd.choice([None, {ids[0]}, set(ids[1::2])])
        _check(seg, terms, cols, shards)
        _check(champ, terms, driverexec.CHAMP_COLUMNS, shards)


@pytest.fixture
def spy(monkeypatch):
    """Record every decoded file and every key-directory file load."""
    seen = {"decoded": [], "keys": []}
    decode = driverexec._TableDir._decode
    file_keys = driverexec._FileKeys

    def decode_spy(self, i, fk, groups, columns):
        seen["decoded"].append((self.paths[i], tuple(groups)))
        return decode(self, i, fk, groups, columns)

    def keys_spy(fsys, path, *rest):
        seen["keys"].append(path)
        return file_keys(fsys, path, *rest)

    monkeypatch.setattr(driverexec._TableDir, "_decode", decode_spy)
    monkeypatch.setattr(driverexec, "_FileKeys", keys_spy)
    driverexec.invalidate_caches()
    return seen


def _holds(path: str, ft) -> bool:
    t = pq.read_table(path, columns=["field", "term"])
    return ft in set(zip(t.column("field").to_pylist(),
                         t.column("term").to_pylist()))


def _shard_of(path: str) -> int:
    return int(path.rsplit("shard=", 1)[1].split("/", 1)[0])


def test_one_term_read_decodes_only_holding_files(reader, spy):
    seg = reader.segment_point_spec()
    champ = reader.champion_point_spec()
    ft = ("content", "def")
    rows = driverexec.read_rows(seg, {ft}, driverexec.SEG_COLUMNS)
    decoded = [p for p, _ in spy["decoded"]]
    assert len(decoded) == len(set(decoded))
    per_shard = {}
    for p in decoded:
        assert _holds(p, ft)
        per_shard[_shard_of(p)] = per_shard.get(_shard_of(p), 0) + 1
    assert max(per_shard.values()) == 1
    assert set(per_shard) == set(rows["shard"])
    spy["decoded"].clear()
    driverexec.read_rows(champ, {ft}, driverexec.CHAMP_COLUMNS)
    assert len(spy["decoded"]) == 1 and _holds(spy["decoded"][0][0], ft)


def test_row_groups_are_pruned(fixture, spy):
    """Only the row groups that hold the term are decoded."""
    ft = fixture["vocab"][5]
    driverexec.read_rows([fixture["seg"]], {ft}, SEG_COLS)
    assert spy["decoded"]
    for path, groups in spy["decoded"]:
        meta = pq.ParquetFile(path).metadata
        assert len(groups) < meta.num_row_groups
        held = pq.ParquetFile(path).read_row_groups(
            list(groups), columns=["field", "term"])
        assert ft in set(zip(held.column("field").to_pylist(),
                             held.column("term").to_pylist()))


def test_absent_term_decodes_nothing(reader, spy):
    for spec, cols in ((reader.segment_point_spec(), driverexec.SEG_COLUMNS),
                       (reader.champion_point_spec(),
                        driverexec.CHAMP_COLUMNS)):
        rows = driverexec.read_rows(spec, {("content", "zz-absent-term")},
                                    cols)
        assert len(rows) == 0 and list(rows.columns)[:len(cols)] == list(cols)
    assert spy["decoded"] == []


def test_shard_read_touches_only_its_shards(reader, spy):
    seg = reader.segment_point_spec()
    ids = driverexec.shard_ids(seg)
    mine = {ids[0], ids[-1]}
    terms = {("content", "def"), ("path", "def"), ("content", "return")}
    rows = driverexec.read_rows(seg, terms, driverexec.SEG_COLUMNS,
                                shards=mine)
    assert len(rows) and set(rows["shard"]) <= mine
    assert spy["keys"] and spy["decoded"]
    assert {_shard_of(p) for p in spy["keys"]} <= mine
    assert {_shard_of(p) for p, _ in spy["decoded"]} <= mine


def test_dir_without_files_reads_nothing(tmp_path):
    """An empty partitioned write leaves only markers: a read of such a
    dir (a term_stats dir of an empty index) returns no rows, so the
    term-df lookup answers df 0 instead of failing."""
    (tmp_path / "_SUCCESS").write_text("")
    driverexec.invalidate_caches()
    tbl = driverexec.read_keys(str(tmp_path), {("content", "def")},
                               ("field", "term", "df"), parts={3})
    assert tbl.num_rows == 0 and tbl.column_names == ["field", "term", "df"]
