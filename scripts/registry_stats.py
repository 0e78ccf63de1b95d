"""Print the LIVE query-registry counts — the single source of truth
for 'N queries, M oracled' claims in README/NOTES (hand-maintained
prose drifted twice; generate, don't transcribe)."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from data_streaming_udacity_p2_evaluate_human_balance_with_spark_streaming_spark.plans import queries as Q

n = len(Q.REGISTRY)
m = sum(1 for v in Q.REGISTRY.values() if v[1] is not None)
st = Q._driver_status()
checked = sum(1 for name in Q.REGISTRY if name in st)
green = sum(1 for name in Q.REGISTRY if st.get(name))
print(f"registry: {n} queries, {m} oracled, {checked} driver-checked, {green} green at latest check")
