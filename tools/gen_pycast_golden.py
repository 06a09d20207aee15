#!/usr/bin/env python3
"""Write the CPython int()/float() outcome golden of the normalizer's casts.

    python3 tools/gen_pycast_golden.py > src/test/resources/pycast_golden.tsv

Standard library only, deterministic. The reference normalizer parses a
frame's `ts` and a book level's count with int() and every price and size
with float(); NormalizerCastSpec checks both graft normalizers against
this file. Each line is

    <input as a JSON string literal>\t<int(input)>\t<float(input)>\t<repr>

where an outcome that raises is "error", int() is written in decimal and
float() as its IEEE-754 bits as a signed 64-bit integer (the format of
pyrepr_golden.tsv), followed by repr(float) for the reader.

Every character str.isspace() takes (below U+10000) appears once as
padding around a digit, so the whitespace set is pinned as a whole.
Unicode decimal digits stay to a few long-assigned blocks, which every
CPython 3 and Java 17+ classify alike.
"""
import json
import struct
import sys

CASES = [
    # the wire's plain forms
    "3", "-3", "+3", "-0", "0003", "1738195200123", "92578.70", "0.034120",
    "3.0", "3.5", "1e2", "1E2", "1e+2", "1e-5", "-.5e-3", "+.5", "1.", ".5",
    "1.e5", "0e0", "-0.0", "00.5", "1e0001", "2.2250738585072011e-308",
    "123456789012345678901234567890", "1e400", "-1e400", "1e-400",
    "0.1000000000000000055511151231257827021181583404541015625",
    "2147483647", "2147483648", "-2147483648", "9223372036854775807",
    "9223372036854775808",
    # malformed
    "", " ", ".", "+", "-", "e5", "1e", "1e+", ".e5", "1.5.5", "1,5",
    "- 3", "++3", "+-3", "3 4", "1\u00a02", "1\x002", "0b101", "0o7",
    # Java-only forms
    "1.5d", "1.5f", "1.5D", "1.5F", "1d", "0x1p3", "0x10", "0X1P-2",
    # special literals
    "nan", "-nan", "+nan", "NaN", "nAn", "inf", "+inf", "-INF", "Infinity",
    "-infinity", "iNfInItY", "infinit", "infinityy", "nan(1)", "snan", "in f",
    # PEP 515 underscores
    "1_000", "-1_000", "1_000.5", "1_000e1_0", "0_1", "1_2_3", "1__000",
    "_1000", "1000_", "+_1", "1_.5", "1._5", "1_e5", "1e_5", "1e5_",
    " 1_0 ", "1_ ", " _1",
    # control characters Java's trim() takes and Python does not strip
    "\x001", "1\x00", "\x011", "1\x7f", "\u200b1", "\ufeff1", "\u180e1",
    # Unicode decimal digits
    "\u0663", "\u0661\u0662\u0663", "-\u0661\u0662", "\u0661.\u0665",
    "\u0663e\u0662", "\u0661_\u0662", "1\u0663", "\uff11\uff12", "\u0967",
    "\U0001d7cf", "\u00b2", "\u2167", "\u0661\u00a0",
]


def outcome(f, s):
    try:
        return f(s)
    except ValueError:
        return None


def bits(v):
    return struct.unpack("<q", struct.pack("<d", v))[0]


def main():
    spaces = [chr(c) for c in range(0x10000) if chr(c).isspace()]
    cases = CASES + [c + "7" + c for c in spaces]
    out = sys.stdout
    out.write("# python3 tools/gen_pycast_golden.py > src/test/resources/pycast_golden.tsv\n")
    for s in cases:
        i = outcome(int, s)
        f = outcome(float, s)
        out.write("%s\t%s\t%s\t%s\n" % (
            json.dumps(s),
            "error" if i is None else str(i),
            "error" if f is None else str(bits(f)),
            "" if f is None else repr(f)))


if __name__ == "__main__":
    main()
