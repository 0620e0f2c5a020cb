# Independent PNG + animated-GIF parsers written from the specs (NOT
# ported from the Scala codecs - second implementations in a second
# language): validate container structure, CRCs, palette, frame layout
# and pixels against the deterministic payloads graft.ImgDump (test
# sources) writes.
#   sbt Test/compile
#   java -cp 'target/scala-2.13/test-classes:target/scala-2.13/classes:/opt/spark/jars/*' graft.ImgDump
#   python3 devtools/imgcheck.py
import struct, zlib

# ------------------------------------------------------------------ PNG
def parse_png(path):
    b = open(path, 'rb').read()
    assert b[:8] == bytes([0x89]) + b'PNG\r\n\x1a\n', 'bad signature'
    pos, w, h, idat = 8, 0, 0, b''
    while pos < len(b):
        ln, typ = struct.unpack('>I4s', b[pos:pos+8])
        data = b[pos+8:pos+8+ln]
        crc, = struct.unpack('>I', b[pos+8+ln:pos+12+ln])
        assert crc == zlib.crc32(typ + data) & 0xffffffff, f'bad CRC on {typ}'
        if typ == b'IHDR':
            w, h, depth, ctype = struct.unpack('>IIBB', data[:10])
            assert depth == 8 and ctype == 6, 'want 8-bit RGBA'
        elif typ == b'IDAT':
            idat += data
        elif typ == b'IEND':
            break
        pos += 12 + ln
    raw = zlib.decompress(idat)
    assert len(raw) == h * (1 + w * 4)
    px = []
    for y in range(h):
        row = raw[y * (1 + w * 4): (y + 1) * (1 + w * 4)]
        assert row[0] == 0, f'row {y} filter {row[0]}'
        for x in range(w):
            r, g, bb, a = row[1 + 4*x: 5 + 4*x]
            px.append((a << 24) | (r << 16) | (g << 8) | bb)
    return w, h, px

# ------------------------------------------------------------------ GIF
def gif_lzw_decode(data, expected):
    CLEAR, EOI = 256, 257
    out = bytearray()
    table = [bytes([i]) for i in range(256)] + [b'', b'']
    width, bitbuf, bitcnt, pos, old = 9, 0, 0, 0, None
    def read():
        nonlocal bitbuf, bitcnt, pos
        while bitcnt < width:
            assert pos < len(data), 'truncated LZW'
            bitbuf |= data[pos] << bitcnt   # LSB-first
            pos += 1; bitcnt += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width; bitcnt -= width
        return code
    while len(out) < expected:
        code = read()
        if code == EOI: break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b'', b'']
            width, old = 9, None
            continue
        if old is None:
            assert code < 256, 'first code not literal'
            out += table[code]; old = code; continue
        if code < len(table):
            entry = table[code]
        else:
            assert code == len(table), f'code {code} ahead of {len(table)}'
            entry = table[old] + table[old][:1]
        out += entry
        if len(table) < 4094:
            table.append(table[old] + entry[:1])
            # decoder trigger sits one entry below the encoder's
            # ((1<<w)+1): the canonical giflib pair, no early change
            if len(table) == (1 << width) and width < 12:
                width += 1
        old = code
    assert len(out) == expected, f'{len(out)} != {expected}'
    return bytes(out)

def parse_gif(path):
    b = open(path, 'rb').read()
    assert b[:6] == b'GIF89a'
    w, h = struct.unpack('<HH', b[6:10])
    packed, bg, _ = b[10], b[11], b[12]
    assert packed & 0x80, 'no GCT'
    n = 2 << (packed & 7)
    pos = 13
    palette = [(b[pos+3*i] << 16) | (b[pos+3*i+1] << 8) | b[pos+3*i+2] for i in range(n)]
    pos += 3 * n
    frames, delay, saw_loop = [], 0, False
    while True:
        blk = b[pos]; pos += 1
        if blk == 0x3b: break
        if blk == 0x21:
            label = b[pos]; pos += 1
            if label == 0xf9:
                assert b[pos] == 4; delay, = struct.unpack('<H', b[pos+2:pos+4])
                pos += 6
            else:
                if label == 0xff and b[pos] == 11 and b[pos+1:pos+12] == b'NETSCAPE2.0':
                    saw_loop = True
                while b[pos] != 0: pos += 1 + b[pos]
                pos += 1
        elif blk == 0x2c:
            fx, fy, fw, fh = struct.unpack('<HHHH', b[pos:pos+8])
            flags = b[pos+8]; pos += 9
            assert (fx, fy, fw, fh) == (0, 0, w, h) and not (flags & 0x80)
            mcs = b[pos]; pos += 1
            assert mcs == 8
            data = b''
            while b[pos] != 0:
                ln = b[pos]; data += b[pos+1:pos+1+ln]; pos += 1 + ln
            pos += 1
            frames.append((gif_lzw_decode(data, w * h), delay))
        else:
            raise AssertionError(f'unexpected block {blk:#x}')
    return w, h, palette, frames, saw_loop

# ------------------------------------------------------- expectations
# RdYlGn LUT reproduced independently from the ColorBrewer 11 anchors
ANCH = [(165,0,38),(215,48,39),(244,109,67),(253,174,97),(254,224,139),
        (255,255,191),(217,239,139),(166,217,106),(102,189,99),(26,152,80),(0,104,55)]
def lut(i):
    t = i * 10.0 / 254.0
    j = min(int(t), 9); f = t - j
    mix = lambda a, b: int(round(a + (b - a) * f))
    r = mix(ANCH[j][0], ANCH[j+1][0]); g = mix(ANCH[j][1], ANCH[j+1][1])
    bb = mix(ANCH[j][2], ANCH[j+1][2])
    return (r << 16) | (g << 8) | bb

W, H = 40, 25
w, h, px = parse_png('/tmp/t.png')
assert (w, h) == (W, H)
for i in range(W * H):
    want = 0 if i % 13 == 0 else (0xff000000 | lut((i * 7) % 255))
    assert px[i] == want, (i, hex(px[i]), hex(want))
print('/tmp/t.png: structure, CRCs and pixels OK')

w, h, palette, frames, saw_loop = parse_gif('/tmp/t.gif')
assert (w, h) == (W, H)
assert saw_loop, 'NETSCAPE loop extension missing'
assert len(palette) == 256 and palette[255] == 0xffffff
for i in range(255):
    assert palette[i] == lut(i), (i, hex(palette[i]), hex(lut(i)))
assert len(frames) == 3
for f, (idx, delay) in enumerate(frames):
    assert delay == 50
    for i in range(W * H):
        assert idx[i] == (i * 3 + f * 11) % 256, (f, i, idx[i])
print('/tmp/t.gif: structure, palette, frames and LZW OK')
print('independent parser: PNG and GIF sinks verified')
