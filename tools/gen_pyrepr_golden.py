#!/usr/bin/env python3
"""Write the feed-shaped slice of the CPython float-repr golden corpus.

    python3 tools/gen_pyrepr_golden.py > src/test/resources/pyrepr_golden_feed.tsv

Standard library only, seeded, deterministic. Each line is
"<IEEE-754 bits as a signed 64-bit integer>\t<repr(float)>", the format of
src/test/resources/pyrepr_golden.tsv, which PyDoubleReprSpec reads beside
this slice. CPython's shortest round-trip repr has not changed since 3.1,
so any CPython 3 from 3.1 on writes the same file.

The values are shaped like the OKX feed the JSONL sink serializes: prices
with 1-4 decimals up to 1e6, sizes with 6 decimals, and decimal strings
whose last digit is a 5 (ties at the digit before it).
"""
import random
import struct
import sys

SEED = 20261018
N_PRICES = 4000
N_SIZES = 3000
N_TIES = 3000


def bits(v):
    return struct.unpack("<q", struct.pack("<d", v))[0]


def decimal(units, places):
    """The decimal string units * 10**-places, as the feed spells it."""
    s = str(units).rjust(places + 1, "0")
    return s if places == 0 else s[:-places] + "." + s[-places:]


def main():
    rnd = random.Random(SEED)
    values = []
    for _ in range(N_PRICES):
        places = rnd.randint(1, 4)
        values.append(decimal(rnd.randrange(1, 10**6 * 10**places), places))
    for _ in range(N_SIZES):
        values.append(decimal(rnd.randrange(1, 5 * 10**6), 6))
    for _ in range(N_TIES):
        places = rnd.randint(1, 8)
        digits = rnd.randint(places, min(places + 7, 15))
        units = rnd.randrange(10 ** (digits - 1), 10**digits) // 10 * 10 + 5
        values.append(decimal(units, places))
    out = sys.stdout
    out.write("# python3 tools/gen_pyrepr_golden.py > src/test/resources/pyrepr_golden_feed.tsv\n")
    for s in values:
        v = float(s)
        out.write("%d\t%r\n" % (bits(v), v))


if __name__ == "__main__":
    main()
