"""Serve workloads' load process: a closed loop of `clients` HTTP clients
against the Gateway. Each client sends its next request only after the
previous one completes: 80% `/kv/{user_id}` and 20%
`/index/{event_type},band:{b}` AND lookups, interleaved in a fixed order
(every fifth request of a client is an index lookup) so the mix does not
vary from run to run. Keys follow a Zipf law with YCSB's default zipfian
constant 0.99 (Cooper et al., "Benchmarking Cloud Serving Systems with
YCSB", SoCC 2010) over a seeded ranking of the users; a key is absent when
the user's latest event is a delete (graft's `value < 20` tombstone rule),
about a third of them, so misses come from the data rather than a chosen
share.
Every request is logged with its client-side start and end (epoch ms).

    python3 perfbench/loadgen.py --port P --seed S --seconds T --clients C \
        --users U --out log.json
"""
import argparse
import bisect
import http.client
import json
import random
import threading
import time

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
INDEX_EVERY = 5  # every fifth request is an index lookup: 20%
ZIPF_S = 0.99
# value ~ Exp(mean 50), band = floor(value / 50): bands 0..3 hold ~98%
BAND_WEIGHTS = [0.632, 0.233, 0.086, 0.049]


def zipf_cdf(n, s):
    weights = [1.0 / (k ** s) for k in range(1, n + 1)]
    total, acc, cdf = sum(weights), 0.0, []
    for w in weights:
        acc += w
        cdf.append(acc / total)
    return cdf


def plan(rng, n, users, cdf, ranked):
    """The n-th request of a client: (route, argument, path)."""
    if n % INDEX_EVERY == INDEX_EVERY - 1:
        t = rng.choice(EVENT_TYPES)
        b = rng.choices(range(len(BAND_WEIGHTS)), BAND_WEIGHTS)[0]
        return "index", [t, b], f"/index/{t},band:{b}"
    key = ranked[min(bisect.bisect_left(cdf, rng.random()), users - 1)]
    return "kv", key, f"/kv/{key}"


def summarize(route, status, body):
    """Compact response: a kv hit's event_id, or an index page's sorted
    (user_id, event_id) pairs; None for a 404; the body of an error."""
    if status == 404:
        return None
    if status != 200:
        return body[:200].decode("utf-8", "replace")
    doc = json.loads(body)
    if route == "kv":
        return doc["event_id"]
    return sorted([r["user_id"], r["event_id"]] for r in doc)


def client(i, args, deadline, cdf, ranked, log):
    rng = random.Random(args.seed * 7919 + i)
    conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=60)
    n = i  # clients start at different points of the mix
    while time.time() < deadline:
        route, arg, path = plan(rng, n, args.users, cdf, ranked)
        n += 1
        start = time.time() * 1000.0
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            status, body = resp.status, resp.read()
        except (OSError, http.client.HTTPException) as e:
            status, body = -1, str(e).encode()
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=60)
        end = time.time() * 1000.0
        try:
            result = summarize(route, status, body)
        except (ValueError, KeyError, TypeError):
            status, result = -2, None
        log.append({"client": i, "route": route, "arg": arg, "start": start,
                    "end": end, "status": status, "result": result})
    conn.close()


def main():
    ap = argparse.ArgumentParser()
    for name in ("port", "seed", "clients", "users"):
        ap.add_argument(f"--{name}", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cdf = zipf_cdf(args.users, ZIPF_S)
    ranked = list(range(args.users))
    random.Random(args.seed).shuffle(ranked)  # which keys are hot
    deadline = time.time() + args.seconds
    logs = [[] for _ in range(args.clients)]
    threads = [threading.Thread(target=client, args=(i, args, deadline, cdf, ranked, logs[i]))
               for i in range(args.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with open(args.out, "w") as f:
        json.dump([r for log in logs for r in log], f)


if __name__ == "__main__":
    main()
