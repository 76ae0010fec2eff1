"""Run settings shared by the orchestrator (``run.py``) and the measured
process (``measured.py``). No workload varies them."""

#: about three quarters of the steady chunk latency seen on 4 cores; it
#: sizes the chunk pool so that the steady window lasts ``--seconds``.
#: A faster program empties the pool sooner and its window ends early
#: (``measured.py``), so rendering need not cover every speed-up
MIN_CHUNK_S = {"ingest_browser_avro": 3.3, "ingest_json_kafka": 1.7}
#: chunks published after the cold one and before the steady window;
#: with the JIT held at C1 (``JVM_OPTS``) chunk latency is about flat
#: from the third chunk on
WARM_CHUNKS = 2
#: the steady window runs ``--seconds`` and at least this many chunks,
#: so that a chunk median has samples on either side
MIN_STEADY_CHUNKS = 4
#: the whole run, generation and verification included, must end
#: within this many seconds
RUN_BUDGET_S = 170
#: driver JVM heap, fixed from the start (``-Xms`` = ``-Xmx``)
DRIVER_MEM = "2g"
#: the driver JVM's options. The JIT stops at its first tier (C1): in
#: a run of a minute the second tier (C2) is still compiling the hot
#: paths, and where the steady window fell on its warm-up curve decided
#: a run's figures (a 10000-event JSON chunk took 2.5 s at the third
#: chunk and 1.1 s at the twentieth, on a 4-core VM). At C1 that
#: chunk takes about 2.1 s from the second chunk on.
#: The heap is touched whole at start (``AlwaysPreTouch``): otherwise
#: the JVM's resident size follows how far the collector has moved
#: through the heap, which GC timing decides, and a run's memory peak
#: ranged 1.5-2.1 GB for the JVM alone.
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:TieredStopAtLevel=1 -XX:+AlwaysPreTouch"
