"""The query list of the ``catalog`` workload.

A pass over every registered query takes more than a minute on a
4-core box even at this corpus size, and a whole pass over the JVM
families alone 30-40 s, so the workload runs a fixed subset that keeps
one query per layer: joins and scans, the Arrow boundary, driver-side
probes, the staging memo and both kinds of streaming state. Each entry names its
family and the layer it stands for. The order here is the untimed
first pass's order; the timed passes shuffle it from ``--seed``.
"""

CATALOG = [
    "flagship_revenue_by_segment",  # relational: multi-join, 10 jobs per run
    "q5_region_volume",             # relational: six-way join, broadcast dims
    "multimodal_features",          # llmdata: mapInPandas decode
    "dedup_simhash",                # llmdata: driver-side regime probe
    "bpe_encode_stats",             # llmdata: staging-memo consumer (BPE state)
    "bloom_prefilter_audit",        # mining: broadcast bit-set probe
    "stream_ewma_spikes",           # streaming: applyInPandasWithState
    "stream_windowed_quality",      # streaming: JVM state store
]
