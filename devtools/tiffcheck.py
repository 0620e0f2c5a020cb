# Independent TIFF parser written from the TIFF6 spec (NOT ported from
# the Scala codec - a second implementation in a second language):
# validates container structure, strip layout, and all three
# compression paths (none / LZW tag 5 / Deflate tag 8) against the
# known pixel function. Companion of graft.TiffDump (test sources):
#   sbt Test/compile
#   java -cp 'target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*' graft.TiffDump
#   python3 devtools/tiffcheck.py
# No raster library exists in this sandbox, so this is the closest
# available stand-in for a GDAL read-back check of the GeoTIFF sink.
import struct, zlib, sys

def lzw_decode(data, expected):
    # TIFF6 LZW, from the spec: 9->12 bit MSB-first codes, Clear=256,
    # EOI=257, early change (decoder bumps width one entry early).
    CLEAR, EOI = 256, 257
    out = bytearray()
    table = []
    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b'', b'']
        width = 9
    width = 9
    reset()
    bitbuf, bitcnt, pos = 0, 0, 0
    old = None
    def read():
        nonlocal bitbuf, bitcnt, pos
        while bitcnt < width:
            if pos >= len(data): return EOI
            bitbuf = (bitbuf << 8) | data[pos]; pos += 1; bitcnt += 8
        code = (bitbuf >> (bitcnt - width)) & ((1 << width) - 1)
        bitcnt -= width
        return code
    while len(out) < expected:
        code = read()
        if code == EOI: break
        if code == CLEAR:
            reset(); old = None; continue
        if old is None:
            assert code < 256, f"first code {code} not a literal"
            out += table[code]; old = code; continue
        if code < len(table):
            entry = table[code]
        else:
            assert code == len(table), f"code {code} ahead of table {len(table)}"
            entry = table[old] + table[old][:1]
        out += entry
        if len(table) < 4094:
            table.append(table[old] + entry[:1])
            if len(table) == (1 << width) - 1 and width < 12:
                width += 1
        old = code
    assert len(out) == expected, f"LZW gave {len(out)}, want {expected}"
    return bytes(out)

def parse(path):
    b = open(path, 'rb').read()
    assert b[:2] == b'II' and struct.unpack('<H', b[2:4])[0] == 42
    ifd = struct.unpack('<I', b[4:8])[0]
    n = struct.unpack('<H', b[ifd:ifd+2])[0]
    tags = {}
    for e in range(n):
        off = ifd + 2 + e * 12
        tag, typ, cnt = struct.unpack('<HHI', b[off:off+8])
        tags[tag] = (typ, cnt, off + 8)
    def vals(tag):
        typ, cnt, at = tags[tag]
        size = {3: 2, 4: 4, 12: 8}[typ]
        fmt = {3: '<H', 4: '<I', 12: '<d'}[typ]
        if size * cnt <= 4:
            return [struct.unpack(fmt, b[at + i*size: at + (i+1)*size])[0] for i in range(cnt)]
        p = struct.unpack('<I', b[at:at+4])[0]
        return [struct.unpack(fmt, b[p + i*size: p + (i+1)*size])[0] for i in range(cnt)]
    w, h = vals(256)[0], vals(257)[0]
    comp = vals(259)[0]
    spp = vals(277)[0]
    rps = vals(278)[0]
    offs, cnts = vals(273), vals(279)
    assert vals(284)[0] == 2, "planar config"
    assert vals(258) == [32, 32] and vals(339) == [3, 3], "float32 samples"
    spb = (h + rps - 1) // rps
    assert len(offs) == spp * spb == len(cnts), (len(offs), spp, spb)
    bands = []
    for p in range(spp):
        plane = b''
        for si in range(spb):
            idx = p * spb + si
            raw = b[offs[idx]: offs[idx] + cnts[idx]]
            rows = min(rps, h - si * rps)
            want = w * rows * 4
            if comp == 8: plane += zlib.decompress(raw)
            elif comp == 5: plane += lzw_decode(raw, want)
            else: plane += raw
        assert len(plane) == w * h * 4
        bands.append(struct.unpack(f'<{w*h}f', plane))
    return w, h, comp, rps, bands

NODATA = -9999.0
for path, wantcomp in [('/tmp/t_none.tif', 1), ('/tmp/t_deflate.tif', 8), ('/tmp/t_lzw.tif', 5)]:
    w, h, comp, rps, bands = parse(path)
    assert (w, h) == (40, 150), (w, h)
    assert comp == wantcomp, (path, comp)
    assert rps == 64, rps
    for i in range(w * h):
        want = NODATA if i % 11 == 0 else ((i * 31) % 997) / 997.0
        got = bands[0][i]
        assert abs(got - want) < 1e-6, (path, i, got, want)
        got2 = bands[1][i]
        assert abs(got2 - (-want)) < 1e-4, (path, i, got2, -want)
    print(f"{path}: comp={comp} rps={rps} strips={2*((h+rps-1)//rps)} OK")
print("independent parser: all three codec paths verified")
