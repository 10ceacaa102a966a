#!/bin/bash
# Round-6 constrained-memory ORACLE gate (judge item 2, second clause):
# the full Verify dump at sf2 under the same memory squeeze as the
# lowmem bench passes (4g heap, spark.memory.fraction=0.2), checked
# value-level against DuckDB. Spill is allowed — wrong answers are not.
set -e
cd /root/repo
C=target/scala-2.13/classes
OUT=target/verify_sf2_lowmem
rm -rf "$OUT"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
SPARK_GRAFT_SPLIT_MB=1 java $ADD_OPENS -Xmx4g \
  -Dspark.memory.fraction=0.2 \
  -cp "$C:/opt/spark/jars/*" graft.Verify /root/sfbig/sf2 "$OUT" \
  > evidence/verify_sf2_lowmem_r06.log 2>&1
python3 tools/check.py /root/sfbig/sf2 "$OUT" 2>/dev/null \
  | tee evidence/check_sf2_lowmem_r06.txt | tail -3
echo LOWMEM_VERIFY_DONE
