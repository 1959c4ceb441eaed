#!/usr/bin/env python3
"""Print `name sha256(oracle SQL)` for every battery query, sorted by name.

    python3 tools/oracle_digest.py <verify_outdir>

Reads <verify_outdir>/oracle_sql.json, the oracle dump `graft.Verify`
writes. Diff the output of two Verify runs to check that a registry
change kept every oracle byte-for-byte.
"""
import hashlib
import json
import os
import sys


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip())
    with open(os.path.join(argv[1], "oracle_sql.json"), encoding="utf-8") as f:
        oracles = json.load(f)
    for name in sorted(oracles):
        print(name, hashlib.sha256(oracles[name].encode("utf-8")).hexdigest())


if __name__ == "__main__":
    main(sys.argv)
