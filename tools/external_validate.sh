#!/usr/bin/env bash
# External cross-validation recipe for the self-pinned LAZ and PCD
# encoders (SCALE.md "LASzip validation status"). This sandbox ships no
# laszip/PCL/PDAL binaries, so the clean-room codecs are pinned by
# round-trip + fixture goldens only; run THIS script in any environment
# that has the real tools to falsify them in minutes.
#
#   tools/external_validate.sh <input.las> [<input14.las>] [workdir]
#
#   <input.las>    any LAS 1.0-1.3 point-format 0-3 file (compressor-2 leg)
#   <input14.las>  optional LAS 1.4 point-format 6-10 file (compressor-3 leg;
#                  interop status UNKNOWN until this leg passes — SCALE.md)
#
# Tools probed on PATH (legs are skipped loudly when absent):
#   laszip64 | laszip | laszip-cli        LAZ reference codec
#   pdal                                  PDAL CLI (LAZ + PCD legs)
#   pcl_convert_pcd_ascii_binary          PCL PCD converter
#
# Every leg ends in a graft-side field-by-field diff (ExternalValidate diff,
# exit 1 on any divergent row), so "PASS" means value-identical points,
# not just same byte count.
set -euo pipefail

LAS=${1:?usage: external_validate.sh <input.las> [<input14.las>] [workdir]}
LAS14=${2:-}
WORK=${3:-$(mktemp -d /tmp/graft-xval.XXXXXX)}
SBT="sbt -batch --error"
mkdir -p "$WORK"
echo "workdir: $WORK"

find_tool() { for t in "$@"; do command -v "$t" >/dev/null 2>&1 && { echo "$t"; return 0; }; done; return 1; }
LASZIP=$(find_tool laszip64 laszip laszip-cli || true)
PDAL=$(find_tool pdal || true)
PCLCONV=$(find_tool pcl_convert_pcd_ascii_binary || true)

laz_leg() { # $1=input las, $2=leg name
  local in=$1 tag=$2
  echo "== LAZ leg [$tag]: $in"
  # our encode -> their decode -> our field diff
  $SBT "runMain graft.ExternalValidate compress $in $WORK/$tag-ours.laz"
  if [ -n "$LASZIP" ]; then
    "$LASZIP" -i "$WORK/$tag-ours.laz" -o "$WORK/$tag-theirs.las"
  elif [ -n "$PDAL" ]; then
    "$PDAL" translate "$WORK/$tag-ours.laz" "$WORK/$tag-theirs.las"
  else
    echo "SKIP (no laszip/pdal on PATH)"; return 0
  fi
  $SBT "runMain graft.ExternalValidate diff $in $WORK/$tag-theirs.las" \
    && echo "PASS [$tag] our-encode -> external-decode"
  # their encode -> our decode -> our field diff
  if [ -n "$LASZIP" ]; then
    "$LASZIP" -i "$in" -o "$WORK/$tag-theirs.laz"
  else
    "$PDAL" translate "$in" "$WORK/$tag-theirs.laz"
  fi
  $SBT "runMain graft.ExternalValidate diff $WORK/$tag-theirs.laz $in" \
    && echo "PASS [$tag] external-encode -> our-decode"
}

laz_leg "$LAS" c2
if [ -n "$LAS14" ]; then
  laz_leg "$LAS14" c3
else
  echo "== LAZ leg [c3]: SKIP (no LAS 1.4 input given; compressor-3 interop stays UNKNOWN)"
fi

echo "== PCD legs"
if [ -z "$PCLCONV" ] && [ -z "$PDAL" ]; then
  echo "SKIP (no pcl_convert_pcd_ascii_binary/pdal on PATH)"
else
  # seed an ascii PCD from the LAS input via PDAL if available,
  # otherwise let the caller drop any reference-produced .pcd in $WORK
  if [ -n "$PDAL" ]; then
    "$PDAL" translate "$LAS" "$WORK/seed.pcd" --writers.pcd.order="X,Y,Z" || \
      echo "note: pdal pcd writer unavailable; place a seed.pcd in $WORK manually"
  fi
  if [ -f "$WORK/seed.pcd" ]; then
    # our re-encode (all three DATA modes) -> their converter -> our diff
    for mode in ascii binary binary_compressed; do
      $SBT "runMain graft.ExternalValidate pcd-convert $WORK/seed.pcd $WORK/ours-$mode.pcd $mode"
      if [ -n "$PCLCONV" ]; then
        # 0 = ascii, 1 = binary: convert THEIR way, then diff values
        "$PCLCONV" "$WORK/ours-$mode.pcd" "$WORK/theirs-$mode.pcd" 0
      else
        "$PDAL" translate "$WORK/ours-$mode.pcd" "$WORK/theirs-$mode.pcd"
      fi
      $SBT "runMain graft.ExternalValidate diff $WORK/seed.pcd $WORK/theirs-$mode.pcd" \
        && echo "PASS [pcd-$mode] our-encode -> external-decode"
    done
    # their binary_compressed -> our decode
    if [ -n "$PCLCONV" ]; then
      "$PCLCONV" "$WORK/seed.pcd" "$WORK/theirs-bc.pcd" 2 || \
        "$PCLCONV" "$WORK/seed.pcd" "$WORK/theirs-bc.pcd" 1
      $SBT "runMain graft.ExternalValidate diff $WORK/theirs-bc.pcd $WORK/seed.pcd" \
        && echo "PASS [pcd] external-encode -> our-decode"
    fi
  fi
fi
echo "== GeoTIFF leg (writers.p2g tif output vs gdalinfo)"
GDALINFO=$(find_tool gdalinfo || true)
if [ -n "$GDALINFO" ] && [ -n "$PDAL" ]; then
  # write a tif through the pipeline, let GDAL parse it
  cat > "$WORK/p2g.json" <<EOF
{"pipeline":[{"type":"readers.las","path":"$LAS"},
 {"type":"writers.p2g","filename":"$WORK/xval","dx":50,"dy":50,
  "radius":36,"output_type":["mean"],"output_format":"tif"}]}
EOF
  $SBT "runMain graft.ExternalValidate pipeline $WORK/p2g.json" || true
  if [ -f "$WORK/xval.mean.tif" ]; then
    "$GDALINFO" "$WORK/xval.mean.tif" && echo "PASS [tif] gdalinfo parses our GeoTIFF"
  fi
else
  echo "SKIP (no gdalinfo on PATH)"
fi
echo "done. artifacts kept in $WORK"
