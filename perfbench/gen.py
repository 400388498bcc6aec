"""Benchmark-owned input generator.

Every input is a closed-form function of its id (rasters) or of the seed
(request parameters, text corpus), built with numpy/pyarrow only, so the
program under test never generates or sees anything but the finished
files. Inputs are cached under ``<cache>/<name>_<size>[_s<seed>]`` and built
once; a ``_DONE`` marker makes a half-written cache entry rebuild.

Raster corpus (one row per located interleaved document, tile-sorted):

    doc_id   string   str(id), id = row * ncols + col
    row, col bigint   cell indices on GRID
    x, y     double   cell centre
    cell_id  bigint   Z-order interleave of (row, col)
    tile_id  bigint   row-major tile index
    band_*   double   band_value(b, id)
    spans    array<struct<kind, text, media_ref, offset>>: a text span and
             an image span, both functions of doc_id (span_rows)

Text corpus (dedup): seeded random word documents with planted exact
duplicate pairs (byte-identical text) and near-duplicate twins (same
tokens, different whitespace: identical shingle sets, different md5).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1

BANDS = ("blue", "green", "red", "nir")
# band_value(b, id) = 1 + (MUL[b] * id + ADD[b]) % 251 — never 0 (the grid
# nodata), so no request masks a value the checks expect
_MUL = {"blue": 1, "green": 7, "red": 13, "nir": 29}
_ADD = {"blue": 0, "green": 3, "red": 5, "nir": 11}

CELL = 30.0
TILE = 64
NCOLS = 2048


@dataclass(frozen=True)
class Grid:
    nrows: int
    ncols: int = NCOLS
    tile: int = TILE
    cell: float = CELL

    @property
    def tiles_x(self) -> int:
        return -(-self.ncols // self.tile)

    @property
    def tiles_y(self) -> int:
        return -(-self.nrows // self.tile)

    @property
    def n_docs(self) -> int:
        return self.nrows * self.ncols

    def tile_of(self, row, col):
        return (np.asarray(row) // self.tile) * self.tiles_x + np.asarray(col) // self.tile


def grid_for(n_docs: int) -> Grid:
    nrows = -(-n_docs // NCOLS)
    nrows = -(-nrows // TILE) * TILE  # whole tiles only
    return Grid(nrows=nrows)


def band_value(band: str, doc_id) -> np.ndarray:
    i = np.asarray(doc_id, dtype=np.int64)
    return (1 + (_MUL[band] * i + _ADD[band]) % 251).astype(np.float64)


def span_rows(doc_id: int) -> list[dict]:
    """The span sequence of one document, as the generator writes it."""
    return [
        {"kind": "text", "text": f"doc {doc_id} caption", "media_ref": None, "offset": 0},
        {"kind": "image", "text": None, "media_ref": f"s3://m/{doc_id}.png", "offset": 1},
    ]


def _part1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    for shift, m in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        v = (v | (v << np.uint64(shift))) & np.uint64(m)
    return v


def zorder(row: np.ndarray, col: np.ndarray) -> np.ndarray:
    return ((_part1by1(row) << np.uint64(1)) | _part1by1(col)).astype(np.int64)


def _spans(ids_str: pa.Array) -> pa.ListArray:
    n = len(ids_str)
    text = pc.binary_join_element_wise("doc ", ids_str, " caption", "")
    media = pc.binary_join_element_wise("s3://m/", ids_str, ".png", "")
    null_s = pa.nulls(n, pa.string())
    # interleave [text span, image span] per doc
    kind = pa.array(np.tile(np.array(["text", "image"]), n))
    take = np.empty(2 * n, dtype=np.int64)
    take[0::2] = np.arange(n)
    take[1::2] = np.arange(n) + n
    texts = pa.concat_arrays([text, null_s]).take(pa.array(take))
    medias = pa.concat_arrays([null_s, media]).take(pa.array(take))
    offs = pa.array(np.tile(np.array([0, 1], dtype=np.int32), n))
    struct = pa.StructArray.from_arrays(
        [kind, texts, medias, offs], names=["kind", "text", "media_ref", "offset"]
    )
    return pa.ListArray.from_arrays(pa.array(np.arange(0, 2 * n + 1, 2, dtype=np.int32)), struct)


def raster_rows(grid: Grid, row: np.ndarray, col: np.ndarray) -> pa.Table:
    row = row.astype(np.int64)
    col = col.astype(np.int64)
    ids = row * grid.ncols + col
    ids_str = pa.array(ids).cast(pa.string())
    cols = {
        "doc_id": ids_str,
        "row": pa.array(row),
        "col": pa.array(col),
        "x": pa.array((col + 0.5) * grid.cell),
        "y": pa.array(-(row + 0.5) * grid.cell),
        "cell_id": pa.array(zorder(row, col)),
        "tile_id": pa.array(grid.tile_of(row, col).astype(np.int64)),
    }
    for b in BANDS:
        cols[f"band_{b}"] = pa.array(band_value(b, ids))
    cols["spans"] = _spans(ids_str)
    return pa.table(cols)


def _publish(tmp: str, path: str) -> str:
    open(os.path.join(tmp, "_DONE"), "w").close()
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)
    return path


def _fresh(path: str) -> str | None:
    if os.path.exists(os.path.join(path, "_DONE")):
        return None
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def ensure_raster(cache: str, grid: Grid) -> str:
    """Tile-sorted corpus: rows ordered by (tile_id, cell_id), one parquet
    row group per tile, 16 files — tile predicates prune row groups through
    min/max statistics."""
    path = os.path.join(cache, f"raster_v{GEN_VERSION}_{grid.n_docs}")
    tmp = _fresh(path)
    if tmp is None:
        return path
    per_tile = grid.tile * grid.tile
    lr, lc = np.divmod(np.arange(per_tile, dtype=np.int64), grid.tile)
    order = np.argsort(zorder(lr, lc), kind="stable")
    lr, lc = lr[order], lc[order]
    tiles_per_file = max(1, (grid.tiles_x * grid.tiles_y) // 16)
    n_tiles = grid.tiles_x * grid.tiles_y
    for f0 in range(0, n_tiles, tiles_per_file):
        parts = []
        for t in range(f0, min(f0 + tiles_per_file, n_tiles)):
            tr, tc = divmod(t, grid.tiles_x)
            parts.append(raster_rows(grid, tr * grid.tile + lr, tc * grid.tile + lc))
        pq.write_table(
            pa.concat_tables(parts),
            os.path.join(tmp, f"part-{f0:05d}.parquet"),
            row_group_size=per_tile,
        )
    return _publish(tmp, path)


VOCAB = 4000
TEXT_TOKENS = (40, 80)


@dataclass(frozen=True)
class TextCorpus:
    path: str
    n_docs: int
    exact_pairs: tuple[tuple[str, str], ...]


def _words(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=VOCAB)
    words = {"".join(rng.choice(letters, size=n)) for n in lens}
    return np.array(sorted(words))


def text_plan(seed: int, n_docs: int):
    """Seeded planted pairs: (exact, near) lists of (src_index, copy_index);
    every planted doc takes part in exactly one pair."""
    rng = np.random.default_rng([seed, 7])
    n_plant = max(2, n_docs // 100)
    idx = rng.permutation(n_docs)[: 4 * n_plant]
    exact = [(int(a), int(b)) for a, b in idx[: 2 * n_plant].reshape(-1, 2)]
    near = [(int(a), int(b)) for a, b in idx[2 * n_plant :].reshape(-1, 2)]
    return exact, near


def ensure_text(cache: str, seed: int, n_docs: int) -> TextCorpus:
    path = os.path.join(cache, f"text_v{GEN_VERSION}_{n_docs}_s{seed}")
    exact, near = text_plan(seed, n_docs)
    ids = [f"t{i:07d}" for i in range(n_docs)]
    corpus = TextCorpus(
        path,
        n_docs,
        tuple(tuple(sorted((ids[a], ids[b]))) for a, b in exact),
    )
    tmp = _fresh(path)
    if tmp is None:
        return corpus
    rng = np.random.default_rng([seed, 11])
    words = _words(rng)
    lens = rng.integers(*TEXT_TOKENS, size=n_docs)
    toks = rng.integers(0, len(words), size=int(lens.sum()))
    ends = np.cumsum(lens)
    docs = [" ".join(words[toks[e - n : e]]) for e, n in zip(ends, lens)]
    for a, b in exact:
        docs[b] = docs[a]
    for a, b in near:
        w = docs[a].split(" ")
        # same tokens, other whitespace: same shingles, different md5 key
        docs[b] = "  ".join(w[: len(w) // 2]) + "\n" + " ".join(w[len(w) // 2 :])
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(docs)}),
        os.path.join(tmp, "part-0.parquet"),
    )
    _publish(tmp, path)
    return corpus
