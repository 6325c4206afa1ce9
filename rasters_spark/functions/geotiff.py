"""Pure-python GeoTIFF writer/reader — Raster.to_geotiff without rasterio.

The reference's ``Raster.to_geotiff/to_file`` delegate to rasterio
(raster.py to_file family); rasterio is absent here, so the writer
emits the format directly from the public specs (TIFF 6.0 baseline +
OGC GeoTIFF 1.1): little-endian, single-band float32, one strip,
uncompressed, with ModelPixelScaleTag (33550), ModelTiepointTag
(33922), GeoKeyDirectoryTag (34735) and GDAL's NODATA ascii tag
(42113, "nan"). The reader parses exactly this subset back — enough
for a bit-exact round-trip contract (`geotiff_roundtrip` query) and
for interchange with GDAL-based consumers.

Layout is fully deterministic: header 8 B, one IFD with 15 entries
(186 B), pixel-scale (24 B) + tiepoint (48 B) + geokeys (32 B), then
``4·w·h`` pixel bytes ⇒ total = 298 + 4·w·h, which the DuckDB oracle
recomputes in SQL.
"""

from __future__ import annotations

import struct

import numpy as np

_II = b"II*\x00"
HEADER_BYTES = 298  # 8 + (2 + 15*12 + 4) + 24 + 48 + 32

# TIFF field types
_SHORT, _LONG, _DOUBLE, _ASCII = 3, 4, 12, 2


def encode_geotiff(arr: np.ndarray, x_origin: float, y_origin: float,
                   cell_width: float, cell_height: float, epsg: int = 4326) -> bytes:
    """float32 (h, w) + north-up grid → GeoTIFF bytes."""
    a = np.ascontiguousarray(arr, dtype="<f4")
    h, w = a.shape
    ifd_off = 8
    n_entries = 15
    after_ifd = ifd_off + 2 + n_entries * 12 + 4
    scale_off = after_ifd
    tie_off = scale_off + 24
    keys_off = tie_off + 48
    data_off = keys_off + 32
    assert data_off == HEADER_BYTES

    def entry(tag, typ, count, value):
        return struct.pack("<HHI", tag, typ, count) + value

    def inline_long(v):
        return struct.pack("<I", v)

    def inline_short(v):
        return struct.pack("<HH", v, 0)

    entries = [
        entry(256, _LONG, 1, inline_long(w)),              # ImageWidth
        entry(257, _LONG, 1, inline_long(h)),              # ImageLength
        entry(258, _SHORT, 1, inline_short(32)),           # BitsPerSample
        entry(259, _SHORT, 1, inline_short(1)),            # Compression: none
        entry(262, _SHORT, 1, inline_short(1)),            # Photometric: BlackIsZero
        entry(273, _LONG, 1, inline_long(data_off)),       # StripOffsets
        entry(277, _SHORT, 1, inline_short(1)),            # SamplesPerPixel
        entry(278, _LONG, 1, inline_long(h)),              # RowsPerStrip
        entry(279, _LONG, 1, inline_long(4 * w * h)),      # StripByteCounts
        entry(284, _SHORT, 1, inline_short(1)),            # PlanarConfig
        entry(339, _SHORT, 1, inline_short(3)),            # SampleFormat: IEEE float
        entry(33550, _DOUBLE, 3, inline_long(scale_off)),  # ModelPixelScale
        entry(33922, _DOUBLE, 6, inline_long(tie_off)),    # ModelTiepoint
        entry(34735, _SHORT, 16, inline_long(keys_off)),   # GeoKeyDirectory
        entry(42113, _ASCII, 4, b"nan\x00"),               # GDAL nodata
    ]
    ifd = struct.pack("<H", n_entries) + b"".join(entries) + struct.pack("<I", 0)
    scale = struct.pack("<3d", float(cell_width), float(abs(cell_height)), 0.0)
    tie = struct.pack("<6d", 0.0, 0.0, 0.0, float(x_origin), float(y_origin), 0.0)
    geographic = epsg == 4326 or (4000 <= epsg < 5000)
    if geographic:
        keys = [(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, epsg)]
    else:
        keys = [(1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, epsg)]
    kd = [(1, 1, 0, len(keys))] + keys
    keybytes = b"".join(struct.pack("<4H", *k) for k in kd)
    return _II + struct.pack("<I", ifd_off) + ifd + scale + tie + keybytes + a.tobytes(order="C")


def decode_geotiff(data: bytes):
    """GeoTIFF bytes (this module's subset) → (float32 (h, w) array,
    dict(x_origin, y_origin, cell_width, cell_height, epsg))."""
    if data[:4] != _II:
        raise ValueError("not a little-endian TIFF")
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    (n,) = struct.unpack_from("<H", data, ifd_off)
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n):
        tag, typ, count = struct.unpack_from("<HHI", data, ifd_off + 2 + i * 12)
        (val,) = struct.unpack_from("<I", data, ifd_off + 2 + i * 12 + 8)
        tags[tag] = (typ, count, val)
    w = tags[256][2]
    h = tags[257][2]
    if tags.get(259, (0, 0, 1))[2] != 1:
        raise ValueError("compressed TIFF not supported by this reader")
    off = tags[273][2]
    nbytes = tags[279][2]
    arr = np.frombuffer(data, dtype="<f4", count=nbytes // 4, offset=off).reshape(h, w).copy()
    sx, sy, _ = struct.unpack_from("<3d", data, tags[33550][2])
    tie = struct.unpack_from("<6d", data, tags[33922][2])
    ko = tags[34735][2]
    nkeys = struct.unpack_from("<4H", data, ko)[3]
    epsg = None
    for k in range(nkeys):
        kid, _, _, kval = struct.unpack_from("<4H", data, ko + 8 * (k + 1))
        if kid in (2048, 3072):
            epsg = kval
    return arr, {
        "x_origin": tie[3], "y_origin": tie[4],
        "cell_width": sx, "cell_height": -sy, "epsg": epsg,
    }


# --- Cloud-Optimized GeoTIFF (tiled + internal overviews) ----------------------

def _block_mean_2x(arr: np.ndarray) -> np.ndarray:
    """2× reduced-resolution overview: nan-aware 2×2 block mean (GDAL
    'average' overview resampling), odd edges handled by edge-repeat."""
    h, w = arr.shape
    if h % 2 or w % 2:
        arr = np.pad(arr, ((0, h % 2), (0, w % 2)), mode="edge")
    a = arr.reshape(arr.shape[0] // 2, 2, arr.shape[1] // 2, 2).astype(np.float64)
    with np.errstate(invalid="ignore"):
        out = np.nanmean(a.transpose(0, 2, 1, 3).reshape(a.shape[0], a.shape[2], 4), axis=2)
    return out.astype(np.float32)


def _tile_grid(arr: np.ndarray, ts: int):
    """Pad to tile multiples and split into row-major ts×ts tiles."""
    h, w = arr.shape
    th = -(-h // ts)
    tw = -(-w // ts)
    padded = np.zeros((th * ts, tw * ts), dtype="<f4")
    padded[:h, :w] = arr
    return [padded[r * ts:(r + 1) * ts, c * ts:(c + 1) * ts].tobytes(order="C")
            for r in range(th) for c in range(tw)]


def encode_cog(arr: np.ndarray, x_origin: float, y_origin: float,
               cell_width: float, cell_height: float, epsg: int = 4326,
               tile_size: int = 256) -> bytes:
    """Raster.to_COG: tiled GeoTIFF with internal 2× overviews and the
    COG layout rule — ALL IFDs at the head of the file (full-resolution
    IFD first, overviews chained after with NewSubfileType=1), tile
    data after. Overviews halve until the level fits one tile."""
    a = np.ascontiguousarray(arr, dtype="<f4")
    levels = [a]
    while max(levels[-1].shape) > tile_size:
        levels.append(_block_mean_2x(levels[-1]))
    ts = tile_size
    level_tiles = [_tile_grid(lv, ts) for lv in levels]

    def n_entries(level_idx: int) -> int:
        # full-res: 11 baseline + 3 geo tags; overviews: +NewSubfileType, no geo
        return 14 if level_idx == 0 else 12

    def ifd_size(level_idx: int) -> int:
        n_tiles = len(level_tiles[level_idx])
        arrays = 8 * n_tiles if n_tiles > 1 else 0  # offsets + bytecounts arrays
        geo = (24 + 48 + 32) if level_idx == 0 else 0
        return 2 + n_entries(level_idx) * 12 + 4 + arrays + geo

    # ---- layout pass
    pos = 8
    ifd_offsets = []
    for i in range(len(levels)):
        ifd_offsets.append(pos)
        pos += ifd_size(i)
    data_offsets = []
    for tiles_ in level_tiles:
        offs = []
        for t in tiles_:
            offs.append(pos)
            pos += len(t)
        data_offsets.append(offs)

    # ---- emit pass
    def entry(tag, typ, count, value):
        return struct.pack("<HHI", tag, typ, count) + value

    il = lambda v: struct.pack("<I", v)
    ish = lambda v: struct.pack("<HH", v, 0)
    out = [_II + struct.pack("<I", ifd_offsets[0])]
    for i, lv in enumerate(levels):
        h, w = lv.shape
        tiles_ = level_tiles[i]
        n_tiles = len(tiles_)
        after_entries = ifd_offsets[i] + 2 + n_entries(i) * 12 + 4
        if n_tiles > 1:
            to_off, bc_off = after_entries, after_entries + 4 * n_tiles
            tail = b"".join(il(o) for o in data_offsets[i]) + b"".join(il(len(t)) for t in tiles_)
            to_val, bc_val = il(to_off), il(bc_off)
        else:
            tail = b""
            to_val, bc_val = il(data_offsets[i][0]), il(len(tiles_[0]))
        entries = []
        if i > 0:
            entries.append(entry(254, _LONG, 1, il(1)))  # NewSubfileType: reduced-res
        entries += [
            entry(256, _LONG, 1, il(w)),
            entry(257, _LONG, 1, il(h)),
            entry(258, _SHORT, 1, ish(32)),
            entry(259, _SHORT, 1, ish(1)),
            entry(262, _SHORT, 1, ish(1)),
            entry(277, _SHORT, 1, ish(1)),
            entry(322, _SHORT, 1, ish(ts)),   # TileWidth
            entry(323, _SHORT, 1, ish(ts)),   # TileLength
            entry(324, _LONG, n_tiles, to_val),
            entry(325, _LONG, n_tiles, bc_val),
            entry(339, _SHORT, 1, ish(3)),
        ]
        if i == 0:
            geo_base = after_entries + len(tail)
            entries += [
                entry(33550, _DOUBLE, 3, il(geo_base)),
                entry(33922, _DOUBLE, 6, il(geo_base + 24)),
                entry(34735, _SHORT, 16, il(geo_base + 72)),
            ]
        entries.sort(key=lambda e: struct.unpack_from("<H", e)[0])
        next_ifd = ifd_offsets[i + 1] if i + 1 < len(levels) else 0
        out.append(struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", next_ifd))
        out.append(tail)
        if i == 0:
            out.append(struct.pack("<3d", float(cell_width), float(abs(cell_height)), 0.0))
            out.append(struct.pack("<6d", 0.0, 0.0, 0.0, float(x_origin), float(y_origin), 0.0))
            geographic = epsg == 4326 or (4000 <= epsg < 5000)
            keys = ([(1024, 0, 1, 2), (1025, 0, 1, 1), (2048, 0, 1, epsg)] if geographic
                    else [(1024, 0, 1, 1), (1025, 0, 1, 1), (3072, 0, 1, epsg)])
            out.append(b"".join(struct.pack("<4H", *k) for k in [(1, 1, 0, len(keys))] + keys))
    for tiles_ in level_tiles:
        out.extend(tiles_)
    return b"".join(out)


def decode_cog(data: bytes):
    """COG bytes (this module's subset) → list of (float32 array, meta)
    per IFD, full resolution first; tiles reassembled, padding cropped."""
    if data[:4] != _II:
        raise ValueError("not a little-endian TIFF")
    (ifd_off,) = struct.unpack_from("<I", data, 4)
    out = []
    while ifd_off:
        (n,) = struct.unpack_from("<H", data, ifd_off)
        tags: dict[int, tuple[int, int, int]] = {}
        for i in range(n):
            tag, typ, count = struct.unpack_from("<HHI", data, ifd_off + 2 + i * 12)
            (val,) = struct.unpack_from("<I", data, ifd_off + 2 + i * 12 + 8)
            tags[tag] = (typ, count, val)
        w, h = tags[256][2], tags[257][2]
        ts = tags[322][2]
        n_tiles = tags[324][1]
        if n_tiles == 1:
            offs = [tags[324][2]]
        else:
            offs = list(struct.unpack_from(f"<{n_tiles}I", data, tags[324][2]))
        tw = -(-w // ts)
        th = -(-h // ts)
        full = np.empty((th * ts, tw * ts), dtype="<f4")
        for k, off in enumerate(offs):
            r, c = divmod(k, tw)
            full[r * ts:(r + 1) * ts, c * ts:(c + 1) * ts] = np.frombuffer(
                data, dtype="<f4", count=ts * ts, offset=off).reshape(ts, ts)
        meta = {"width": w, "height": h, "is_overview": tags.get(254, (0, 0, 0))[2] == 1}
        if 33922 in tags:
            sx, sy, _ = struct.unpack_from("<3d", data, tags[33550][2])
            tie = struct.unpack_from("<6d", data, tags[33922][2])
            meta.update(x_origin=tie[3], y_origin=tie[4], cell_width=sx, cell_height=-sy)
            ko = tags[34735][2]
            nk = struct.unpack_from("<4H", data, ko)[3]
            for k in range(nk):
                kid, _, _, kval = struct.unpack_from("<4H", data, ko + 8 * (k + 1))
                if kid in (2048, 3072):
                    meta["epsg"] = kval
        out.append((full[:h, :w].copy(), meta))
        (ifd_off,) = struct.unpack_from("<I", data, ifd_off + 2 + n * 12)
    return out


def tiles_to_geotiff(tiles):
    """DataFrame stage: tile rows → (image_id, tiff binary, n_bytes).
    One Arrow pass through ``tiles.map_tiles``; the blob never
    shuffles."""
    from rasters_spark.tiles import map_tiles

    def kernel(arr, h, w, x_origin, y_origin, cell_width, cell_height):
        t = encode_geotiff(arr, x_origin, y_origin, cell_width, cell_height)
        return [t], [len(t)]

    return map_tiles(tiles, kernel, "image_id string, tiff binary, n_bytes long",
                     meta=("x_origin", "y_origin", "cell_width", "cell_height"))


def save_geotiffs(tiles, out_dir: str) -> None:
    """Raster.to_file sink: one .tif per tile under ``out_dir``,
    written executor-side per partition (no driver collect)."""
    import os

    def write_part(rows):
        os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            with open(os.path.join(out_dir, f"{r.image_id}.tif"), "wb") as fh:
                fh.write(r.tiff)

    tiles_to_geotiff(tiles).foreachPartition(write_part)
