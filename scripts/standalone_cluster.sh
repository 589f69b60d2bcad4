#!/usr/bin/env bash
# Start/stop a localhost Spark standalone cluster (north rule: "run via
# spark-submit --py-files on a multi-executor cluster") built from the
# /opt/spark distribution this sandbox ships.
#
#   standalone_cluster.sh start <n_workers> <cores_per_worker> <mem_per_worker>
#   standalone_cluster.sh stop
#
# Each worker is its own JVM, pinned (taskset) to a disjoint
# proportional cpuset — cores_per_worker*CPUS_PER_SLOT CPUs per worker —
# so N vs 4N workers hold per-slot CPU budget constant, the same
# discipline bench.py applies to its local[N] levels.  Executors and
# their Python workers inherit the worker's cpuset.
set -euo pipefail

SPARK_HOME=${SPARK_HOME:-/opt/spark}
LOG_DIR=${LSS_SA_LOG_DIR:-/tmp/sa_logs}
PID_FILE="$LOG_DIR/cluster.pids"
MASTER_PORT=${LSS_SA_MASTER_PORT:-7077}
CPUS_PER_SLOT=${LSS_SA_CPUS_PER_SLOT:-2}

start() {
    local n_workers=$1 cores=$2 mem=$3
    # every check runs before any daemon starts: a short or empty
    # cpuset slice would pin workers to overlapping CPUs, or fail taskset
    local v
    for v in "$n_workers" "$cores" "$CPUS_PER_SLOT"; do
        if ! [[ "$v" =~ ^[1-9][0-9]*$ ]]; then
            echo "workers, cores and LSS_SA_CPUS_PER_SLOT must be positive integers (got '$v')" >&2
            exit 2
        fi
    done
    # slice the allowed CPU set into disjoint proportional chunks
    mapfile -t ALLOWED < <(python3 -c '
import os
for c in sorted(os.sched_getaffinity(0)): print(c)')
    local chunk=$((cores * CPUS_PER_SLOT))
    if [ "${#ALLOWED[@]}" -lt $((n_workers * chunk)) ]; then
        echo "need $((n_workers * chunk)) CPUs ($n_workers workers x $cores cores x $CPUS_PER_SLOT CPUs/slot), only ${#ALLOWED[@]} allowed" >&2
        exit 1
    fi
    mkdir -p "$LOG_DIR"
    # a stale worker from a previous run would re-register with the new
    # master at the same address and add phantom cores: stop the
    # daemons this script started before (their PIDs, not every Spark
    # daemon of the user)
    stop > /dev/null
    : > "$PID_FILE"
    java -cp "$SPARK_HOME/jars/*" -Xmx768m \
        org.apache.spark.deploy.master.Master \
        --host 127.0.0.1 --port "$MASTER_PORT" --webui-port 8089 \
        > "$LOG_DIR/master.log" 2>&1 &
    echo $! >> "$PID_FILE"
    sleep 5
    for i in $(seq 0 $((n_workers - 1))); do
        local lo=$((i * chunk))
        local cpus
        cpus=$(IFS=,; echo "${ALLOWED[*]:$lo:$chunk}")
        SPARK_HOME="$SPARK_HOME" SPARK_SCALA_VERSION=2.13 taskset -c "$cpus" \
            java -cp "$SPARK_HOME/jars/*" -Xmx768m \
            org.apache.spark.deploy.worker.Worker \
            "spark://127.0.0.1:$MASTER_PORT" \
            --cores "$cores" --memory "$mem" \
            --webui-port $((8090 + i)) \
            --work-dir "/dev/shm/sa_worker$i" \
            > "$LOG_DIR/worker$i.log" 2>&1 &
        echo $! >> "$PID_FILE"
    done
    # wait for registrations
    for _ in $(seq 1 30); do
        local n
        n=$(grep -c "Registering worker" "$LOG_DIR/master.log" 2>/dev/null) || n=0
        [ "$n" -ge "$n_workers" ] && { echo "cluster up: $n_workers workers x $cores cores (pin $chunk cpus/worker)"; return 0; }
        sleep 2
    done
    echo "workers failed to register" >&2
    exit 1
}

stop() {
    if [ -f "$PID_FILE" ]; then
        while read -r pid; do kill "$pid" 2>/dev/null || true; done < "$PID_FILE"
        rm -f "$PID_FILE"
    fi
    sleep 2
    echo "cluster stopped"
}

case "${1:-}" in
    start) start "${2:-2}" "${3:-4}" "${4:-8g}" ;;
    stop) stop ;;
    *) echo "usage: $0 start <n_workers> <cores> <mem> | stop" >&2; exit 2 ;;
esac
