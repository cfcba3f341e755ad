#!/bin/bash
# usage: maskdiff.sh parentFile changeFile
m() { sed -E 's/#[0-9]+L?//g; s/plan_id=[0-9]+/plan_id=N/g; s/_[0-9a-f]{8}([/,\] ]|$)/_H\1/g; s/ExistingRDD\[[0-9]+\]/ExistingRDD/g; s/Scan ExistingRDD\[[^]]*\]/Scan ExistingRDD/g; s/_stream_[a-z_]+_[0-9]+/_stream_N/g; s/(snap|out|upsert)_[0-9]+/\1_N/g; s/@[0-9a-f]{6,8}\b/@H/g; s/Lambda\$[0-9]+\/0x[0-9a-f]+/Lambda/g' "$1"; }
diff <(m "$1") <(m "$2")
