#!/usr/bin/env python3
"""CJK charset parity tables (fixture-prep time only; NOT part of the engine).

Java's built-in Shift_JIS / EUC-JP / EUC-KR / GBK / Big5 charsets diverge
from CPython's codecs (r5 exhaustive differential: JIS 0x213D -> U+2014 vs
U+2015, GBK accepting 2149 sequences python rejects, Big5 punctuation
variants, 2 Big5 sequences Java rejects). Since the reference decodes with
CPython, the engine decodes these five charsets via tables ENUMERATED from
CPython itself. gb2312 matched Java exactly and stays on the JDK decoder.

Atomic-unit model (matches these codecs' no-lookahead structure):
  - a byte that strict-decodes ALONE is a 1-byte unit and never a lead;
  - otherwise it is a lead iff some 2-byte sequence starting with it
    decodes — those pairs are the 2-byte units;
  - euc-jp additionally has 0x8F-led 3-byte units.
The ENCODE map is enumerated over the FULL codepoint range (not just
decode-reachable unit values): CPython carries encode-only fallbacks the
decode tables never produce ('¥'.encode('shift_jis') == b'\x5c',
'‾' -> b'~', and 8,822 euc-kr hangul syllables that ENCODE as 8-byte
jamo compositions) — r5's decode-reachable enumeration regressed exactly
those (r5 ADVICE, high).

euc-kr additionally DECODES 8-byte composition units
(a4d4 <L-jamo> <V-jamo> <T-jamo|a4d4> -> one composed syllable/jamo,
r5 ADVICE medium); those are enumerated exhaustively over the 94^3
trailing-pair space and emitted as C rows.

Output: src/main/resources/charsets/<enc>.tsv.gz with lines:
  D <seqhex> <utf8hex>   (decode unit: byte sequence -> text)
  C <seqhex> <utf8hex>   (euc-kr composition: 6 bytes AFTER the a4d4 lead)
  E <utf8hex> <seqhex>   (encode: text -> byte sequence)
"""
import gzip, os

REPO = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
OUT = os.path.join(REPO, "src", "main", "resources", "charsets")
ENCS = ["shift_jis", "euc-jp", "euc-kr", "gbk", "big5"]

def main():
    os.makedirs(OUT, exist_ok=True)
    for enc in ENCS:
        rows = []
        values = set()
        def dec(data):
            try:
                return data.decode(enc)
            except Exception:
                return None
        singles = {}
        for b in range(256):
            v = dec(bytes([b]))
            if v is not None:
                singles[b] = v
                rows.append(f"D {bytes([b]).hex()} {v.encode('utf-8').hex()}")
                values.add(v)
        for lead in range(0x80, 0x100):
            if lead in singles:
                continue
            for t in range(0x100):
                v = dec(bytes([lead, t]))
                if v is not None:
                    rows.append(f"D {bytes([lead, t]).hex()} {v.encode('utf-8').hex()}")
                    values.add(v)
        if enc == "euc-jp":
            for a in range(0x100):
                for b in range(0x100):
                    v = dec(bytes([0x8F, a, b]))
                    if v is not None:
                        rows.append(f"D {bytes([0x8F, a, b]).hex()} {v.encode('utf-8').hex()}")
                        values.add(v)
        multi = [v for v in values if len(v) != 1]
        assert not multi, f"{enc}: non-single-char unit values {multi[:5]}"
        if enc == "euc-kr":
            # 8-byte composition units: a4d4 + three more a4-led pairs
            # (L jamo, V jamo, T jamo or a4d4 filler). Enumerate the full
            # 94^3 trailing-pair space through CPython; whatever decodes
            # is a composition unit, the rest stays a strict error.
            ncomp = 0
            for l in range(0xA1, 0xFF):
                for vv in range(0xA1, 0xFF):
                    for t in range(0xA1, 0xFF):  # 0xD4 (filler) is in range
                        seq = bytes([0xA4, 0xD4, 0xA4, l, 0xA4, vv, 0xA4, t])
                        s = dec(seq)
                        if s is not None and len(s) == 1:
                            rows.append(f"C {seq[2:].hex()} {s.encode('utf-8').hex()}")
                            ncomp += 1
            print(f"euc-kr composition units: {ncomp}")
        # encode side: full-codepoint scan (encode-only fallbacks included)
        nenc = 0
        for cp in range(0x110000):
            if 0xD800 <= cp < 0xE000:
                continue
            v = chr(cp)
            try:
                eb = v.encode(enc)
            except Exception:
                continue
            rows.append(f"E {v.encode('utf-8').hex()} {eb.hex()}")
            nenc += 1
        print(f"{enc}: {nenc} encodable codepoints")
        p = os.path.join(OUT, enc + ".tsv.gz")
        with gzip.open(p, "wt") as f:
            f.write("\n".join(rows) + "\n")
        print(f"{enc}: {len(rows)} rows, {len(values)} unit values, {os.path.getsize(p)} bytes")

# ---- differential test corpus (committed; replayed by CharsetParitySpec) ----

def gen_cases():
    import random
    rnd = random.Random(20260817)
    out = []
    def dec_case(enc, data):
        try:
            s = data.decode(enc)
            out.append(f"DEC\t{enc}\t{data.hex()}\tOK\t{s.encode('utf-8').hex()}")
        except Exception:
            out.append(f"DEC\t{enc}\t{data.hex()}\tERR\t")
    def enc_case(enc, s):
        try:
            b = s.encode(enc)
            out.append(f"ENC\t{enc}\t{s.encode('utf-8').hex()}\tOK\t{b.hex()}")
        except Exception:
            out.append(f"ENC\t{enc}\t{s.encode('utf-8').hex()}\tERR\t")

    cjk = ["shift_jis", "euc-jp", "euc-kr", "gb2312", "gbk", "big5"]
    # per-charset: random multi-unit strings built from VALID text (tests
    # composition), then mutated (truncation, injected bytes) to test the
    # walk's error positions; plus the known-divergent sequences
    pool = ("abc 09AZ 日本語 한국 中文 简体 繁體 ― ‐ … ☆ ｱｲｳ ￥ "
            "line\nbreak <tag attr='v'> & ; url(x.png)")
    for enc in cjk:
        # valid strings: random slices of pool that the charset can encode
        valid = []
        for _ in range(150):
            i = rnd.randrange(len(pool)); j = min(len(pool), i + rnd.randrange(1, 12))
            s = pool[i:j]
            try:
                valid.append(s.encode(enc))
            except Exception:
                pass
        for b in valid:
            dec_case(enc, b)
        # mutations
        for _ in range(250):
            if not valid: break
            b = bytearray(rnd.choice(valid))
            op = rnd.randrange(3)
            if op == 0 and len(b) > 1: b = b[:rnd.randrange(1, len(b))]   # truncate
            elif op == 1: b.insert(rnd.randrange(len(b) + 1), rnd.randrange(256))
            else:
                if b: b[rnd.randrange(len(b))] = rnd.randrange(256)
            dec_case(enc, bytes(b))
        # pure random
        for _ in range(150):
            dec_case(enc, bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 12))))
    # the known divergent sequences, embedded in context
    for enc, seqs in [("shift_jis", ["815c"]), ("euc-jp", ["a1bd"]),
                      ("gbk", ["a892", "a154", "a14d"]),
                      ("big5", ["a240", "a1fe", "a15a", "a3e1"]),
                      ("euc-kr", ["a2e6", "a2e7"])]:
        for h in seqs:
            raw = bytes.fromhex(h)
            dec_case(enc, raw)
            dec_case(enc, b"x" + raw + b"y")
    # utf-16/32 family: BOM shapes, odd lengths, surrogate patterns
    text = "h\xe9llo ☃ w\xf6rld \U0001F600"
    for enc in ["utf-16", "utf-16-le", "utf-16-be", "utf-16le", "utf-16be",
                "utf-32", "utf-32-le", "utf-32-be"]:
        base = text.encode(enc)
        dec_case(enc, base)
        dec_case(enc, base[:-1])             # truncated
        dec_case(enc, b"\xff\xfe" + "ab".encode("utf-16-le"))
        dec_case(enc, b"\xfe\xff" + "ab".encode("utf-16-be"))
        dec_case(enc, "ab".encode("utf-16-le"))   # BOM-less LE body
        dec_case(enc, "ab".encode("utf-16-be"))   # BOM-less BE body
        dec_case(enc, b"\x00\x00\xfe\xff" + "ab".encode("utf-32-be"))
        dec_case(enc, b"\xff\xfe\x00\x00" + "ab".encode("utf-32-le"))
        dec_case(enc, b"\x00\xd8a\x00")      # lone-surrogate-ish bytes
    # euc-kr composition units (r5 ADVICE medium): valid compositions,
    # LV+filler, truncations, wrong-class jamo, embedded in context
    for h in ["a4d4a4a1a4bfa4a2", "a4d4a4a1a4bfa4d4", "a4d4a4a1a4bfa4a2a4a1",
              "a4d4", "a4d4a4a1", "a4d4a4a1a4bf", "a4d441", "a4d4a4d4a4a1a4bf",
              "a4d4a4bfa4a1a4a2", "a4d4a4a1a4bfb0a1"]:
        raw = bytes.fromhex(h)
        dec_case("euc-kr", raw)
        dec_case("euc-kr", b"x" + raw + b"y")
    # encode side — incl. the encode-only fallbacks ('¥'/'‾' -> 0x5c/0x7e
    # in shift_jis & euc-jp, r5 ADVICE high) and composed euc-kr syllables
    # outside the 2-byte table ('갂' -> 8-byte jamo composition)
    enc_texts = ["abc", "—", "―", "⊕", "♁", "＼", "╴", "¥", "‾", "¥1 and ‾x",
                 "갂", "가힣 갂뷁", "ㄱㅏ",
                 "日本語テキスト", "한국어", "中文简体", "繁體字", "ｱｲｳｴｵ",
                 "mixed 日本 text", "\U0001F600", "caf\xe9", text]
    for enc in cjk + ["utf-16", "utf-32", "utf-16-le", "utf-32-be", "windows-1252",
                      "latin-1", "ascii", "koi8-r"]:
        for s in enc_texts:
            enc_case(enc, s)
    p = os.path.join(REPO, "src", "test", "resources", "golden", "charset_cases.tsv.gz")
    with gzip.open(p, "wt") as f:
        f.write("\n".join(out) + "\n")
    print(f"cases: {len(out)} -> {p} ({os.path.getsize(p)} bytes)")


# ---- codec-name spellings (committed; replayed by CharsetParitySpec) ----

# every codec the engine resolves itself, with a sample text it encodes
SPELLING_SAMPLES = {
    "utf_8": "h\xe9llo \u2603 \U0001F600", "utf_16": "h\xe9llo \u2603 \U0001F600",
    "utf_32": "h\xe9llo \u2603 \U0001F600", "utf_16_le": "h\xe9llo \u2603",
    "utf_16_be": "h\xe9llo \u2603", "utf_32_le": "h\xe9llo \u2603",
    "utf_32_be": "h\xe9llo \u2603", "latin_1": "caf\xe9 \xff", "ascii": "plain ascii",
    "koi8_r": "\u041f\u0440\u0438\u0432\u0435\u0442",
    "cp1252": "\u201cquoted\u201d \u20ac", "gb2312": "\u4e2d\u6587\u7b80\u4f53",
    "shift_jis": "\u65e5\u672c\u8a9e \uff71", "euc_jp": "\u65e5\u672c\u8a9e",
    "euc_kr": "\ud55c\uad6d\uc5b4", "gbk": "\u4e2d\u6587\u7b80\u4f53",
    "big5": "\u7e41\u9ad4\u5b57",
}

def gen_spellings(path=os.path.join(REPO, "src", "test", "resources", "golden",
                                    "charset_spellings.tsv")):
    """Spellings CPython's codecs.lookup accepts for each codec above: the
    module name and every encodings.aliases entry, each as written, upper
    case, and with '-' or ' ' for '_', plus hand-picked mixed spellings.
    Row: spelling, codec, sample text (utf-8 hex), its encoding (hex)."""
    import codecs
    from encodings.aliases import aliases
    extra = ["utf_8", "UTF 8", "U8", "Utf-8", "latin_1", "l1", "Latin-1",
             "windows_1252", "Windows-1252", "us_ascii", "US-ASCII",
             "utf_16_le", "UTF-16LE", "csShiftJIS", "Shift-JIS", "koi8_r",
             "KOI8-R", "EUC-JP", "EUC-KR", "GB2312", "Big5", "ks_c_5601-1987"]
    rows = []
    for codec, sample in SPELLING_SAMPLES.items():
        name = codecs.lookup(codec).name
        keys = [codec] + sorted(k for k, v in aliases.items() if v == codec)
        spellings = []
        for k in keys:
            spellings += [k, k.upper(), k.replace("_", "-"), k.replace("_", " ")]
        spellings += [e for e in extra if codecs.lookup(e).name == name]
        for sp in dict.fromkeys(spellings):
            assert codecs.lookup(sp).name == name, (sp, codec)
            rows.append(f"{sp}\t{codec}\t{sample.encode('utf-8').hex()}\t{sample.encode(sp).hex()}")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(rows) + "\n")
    print(f"spellings: {len(rows)} -> {path}")

if __name__ == "__main__":
    # python3 tools/gen_charset_tables.py [tables] [cases] [spellings]
    import sys
    what = sys.argv[1:] or ["tables", "cases", "spellings"]
    if "tables" in what:
        main()
    if "cases" in what:
        gen_cases()
    if "spellings" in what:
        gen_spellings()
