#!/usr/bin/env bash
# CI analogue of the reference's run-on-push workflow
# (/root/reference/.github/workflows/etl_weekly_trades.yml:35-43: run the
# ETL, publish agg_result.db): run the full pipeline on the reference's own
# dirty CSV with every sink enabled, then diff the artifacts against the
# checked-in goldens. Exit nonzero on any drift.
#
# Usage: tools/ci.sh [outDir]     (default: a fresh mktemp dir — the sqlite
#                                  sink APPENDS, so a reused dir would
#                                  double the rows and fail the golden diff)
set -euo pipefail
cd "$(dirname "$0")/.."

# -- Tool self-tests (cheap, before the sbt run): the gates' own gates
python3 tools/test_check_bench.py
python3 tools/test_check_oracle.py

CSV='/root/reference/trades (1) (2) (1).csv'
GOLDEN_DB=/root/reference/agg_result.db
GOLDEN_XLSX=/root/reference/output/top_clients.xlsx

# -- Inputs: the reference's CSV and goldens. Without them the ETL run and
# -- all three artifact checks are impossible; name what is missing and fail.
missing=()
for f in "$CSV" "$GOLDEN_DB" "$GOLDEN_XLSX"; do
  [ -e "$f" ] || missing+=("'$f'")
done
if [ "${#missing[@]}" -gt 0 ]; then
  echo "[ci] FAIL: missing input ${missing[*]}; could not run the sqlite," \
    "xlsx and charts artifact checks" >&2
  exit 1
fi

OUT="${1:-$(mktemp -d /tmp/graft-ci.XXXXXX)}"
echo "[ci] output dir: $OUT"

# -- Run ETL (the workflow's `python etl_weekly_trades.py` step) ------------
sbt -batch "runMain graft.etl.RunEtl \"$CSV\" $OUT --sqlite --xlsx --charts"

# -- Artifact 1: the SQLite aggregate vs the reference's checked-in DB ------
# stock-sqlite3 integrity check, byte-identical DDL, row-by-row equality
python3 tools/check_sqlite.py "$OUT/agg_result.db" "$GOLDEN_DB"

# -- Artifact 2+3: the xlsx report vs the reference's checked-in one, and --
# -- both chart PNGs (decodable, reference dimensions) -----------------------
python3 - "$OUT" "$GOLDEN_XLSX" <<'EOF'
import sys, zipfile, struct
import xml.etree.ElementTree as ET

out = sys.argv[1]
NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

def cells(path):
    """[(ref, value)] of sheet1, shared strings resolved — the same cell
    surface XlsxSpec compares, so ci drift means the same thing a red
    spec does."""
    z = zipfile.ZipFile(path)
    shared = []
    if "xl/sharedStrings.xml" in z.namelist():
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
        shared = ["".join(t.text or "" for t in si.iter(f"{NS}t"))
                  for si in root.iter(f"{NS}si")]
    sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    out = []
    for c in sheet.iter(f"{NS}c"):
        v = c.find(f"{NS}v")
        raw = v.text if v is not None else None
        if c.get("t") == "s" and raw is not None:
            raw = shared[int(raw)]
        elif c.get("t") == "inlineStr":
            raw = "".join(t.text or "" for t in c.iter(f"{NS}t"))
        out.append((c.get("r"), raw))
    return out

def norm(v):
    if v is None:
        return None
    try:  # 2.0 vs 2 vs 2E0: compare numerics as numbers
        return round(float(v), 9)
    except ValueError:
        return v

got = {r: norm(v) for r, v in cells(f"{out}/top_clients.xlsx")}
want = {r: norm(v) for r, v in cells(sys.argv[2])}
if got != want:
    diff = {k: (want.get(k), got.get(k))
            for k in set(got) | set(want) if got.get(k) != want.get(k)}
    sys.exit(f"FAIL: top_clients.xlsx cells differ from golden: {diff}")
print(f"top_clients.xlsx: all {len(want)} cells match the reference's")

for name in ("Weekly_Trade_Volume.png", "Weekly_Trade_Count_by_Client_Type.png"):
    data = open(f"{out}/{name}", "rb").read()
    if data[:8] != b"\x89PNG\r\n\x1a\n" or data[12:16] != b"IHDR":
        sys.exit(f"FAIL: {name} is not a PNG")
    w, h = struct.unpack(">II", data[16:24])
    # Charts.scala's fixed 1500x750 canvas — figsize=(10,5) at dpi=150,
    # the reference's savefig parameters (etl_weekly_trades.py:224-229).
    # The reference PNGs themselves are NOT exactly 1500x750 (its
    # bbox_inches='tight' trims the canvas); this pin gates the repo's
    # own deterministic renderer (ChartsSpec asserts the same) so a size
    # regression fails the CI gate itself, not only the spec suite.
    if (w, h) != (1500, 750):
        sys.exit(f"FAIL: {name} dimensions {w}x{h} != renderer's 1500x750")
    print(f"{name}: valid PNG {w}x{h}, {len(data)} bytes")
EOF

echo "[ci] PASS — all artifacts match the checked-in goldens"
