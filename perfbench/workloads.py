"""Workload definitions: the seeded op scripts the JVM replays, and
the in-memory model the `messages_rw` reads are checked against.

A script is text, one op per line (`code<TAB>arg...`), blocks separated
by `--`. Block 0 is the set-up load, block 1 the first (cold) pass and
every later block a warm pass; the JVM stops at the first block
boundary after the run's seconds are spent. The seed fixes every choice:
the same (workload, seed) always gives the same script.
"""
import random
from collections import Counter

# Entry workloads run a fixed set of SparkEntry.queries entries per pass,
# in a seeded order. One run of `run_seconds` cannot hold a full
# pass over the 119/103/23 entries of each group (51.9 s / 74.0 s / 29.8 s
# warm on 4 cores), so each set takes one or two entries per family,
# chosen for a warm pass of a few seconds; NOTES.md lists the reasons.
WAREHOUSE = [
    "q3_top_orders", "q6_revenue_forecast", "q13_customer_distribution",
    "ev_funnel", "ev_sessionization", "wc_point_lookup",
    "wc_connector_upsert", "wc_merge_on_read", "window_running_total",
    "rollup_nation_status", "asof_join_latest_order",
    "anti_join_inactive_customers",
]
PIPELINE = [
    "dedup_exact", "dedup_semantic_prebuilt", "txt_winnow_fingerprint",
    "txt_bpe_tokenize", "ann_ivf_prebuilt_topk", "emb_quantize_int8",
    "smp_stratified", "mm_resize_halve", "doc_chunk_overlap",
    "vec_norm_stats", "pipeline_corpus_to_shards",
]
STREAM = [
    "st_tumbling_window", "st_dedup_watermark", "st_connector_append",
    "st_bpe_tokenize", "st_enrich_join", "st_funnel",
]
ENTRY_SETS = {"warehouse": WAREHOUSE, "pipeline": PIPELINE, "stream": STREAM}
WORKLOADS = ["messages_rw", "warehouse", "pipeline", "stream"]

# generous upper bound on passes; the JVM stops on time long before
MAX_PASSES = 200

# ---- messages_rw shape ----
CHANNELS = 16          # Zipf-weighted; one channel per token bucket
USERS = 2000           # usernames user0..user1999, Zipf-weighted
AUTHORS = 200
ZIPF_S = 1.1
INIT_MESSAGE_ROWS = 1000  # set-up load, spread over all channels
BATCH_ROWS = 100       # rows per timed insertMessages, all in one channel
USER_BATCH = 50        # rows per insertUsers
UPSERT_BATCH = 20      # rows per TokenRangeOps.upsert
# one pass: the same op types in the same order every pass (12 reads, 13
# writes, every verb); the seed picks which channel ids hold which
# popularity ranks, the usernames and the payloads. A fixed order keeps
# the op mix and what each op follows identical from pass to pass and seed
# to seed. The counts balance the ops faster than a user lookup (9
# inserts, the delete) against the slower ones (channel reads, listUsers,
# allMessages, the upsert, the compaction), so the median falls inside
# the 5 user lookups and user inserts, and only the hottest channel's read
# and allMessages lie above the 90th percentile: both percentiles sit in
# flat parts of the distribution, not on a steep edge between two kinds
# of op.
PASS_ORDER = ["im", "rc", "ru", "im", "rc", "im", "ru", "iu", "rc", "im",
              "lu", "im", "rc", "ru", "uu", "im", "rc", "im", "am", "ru",
              "im", "rc", "dc", "im", "cu"]
# popularity ranks (1 = hottest) each pass reads and posts to: Zipf
# quantiles, posts at the midpoints of nine equal slices of the mass, and
# reads one per rank down the head with a single tail read
READ_RANKS = [1, 2, 3, 4, 6, 12]
POST_RANKS = [1, 1, 1, 2, 3, 4, 6, 9, 13]
MESSAGE_PASSES = 60
WORDS = ["hello", "spark", "token", "range", "ring", "node", "write", "read",
         "merge", "batch", "quorum", "replica", "stream", "table", "key"]

READS = {"rc", "ru", "lu", "am"}
WRITES = {"im", "iu", "uu", "dc", "cu"}


def _bucket(pk):
    """The connector's token bucket of a BIGINT partition key
    (TokenLayout.bucketOfValue: 16 buckets over a 10^9+7 ring)."""
    return (pk * 2654435761 % 1000000007) * 16 // 1000000007


def _one_per_bucket(n):
    """The smallest positive key of each of the first n buckets: channels
    that share no bucket, so a channel read's cost follows only that
    channel's own writes, not which hot channel it happens to share with."""
    first = {}
    pk = 1
    while len(first) < n:
        first.setdefault(_bucket(pk), pk)
        pk += 1
    return [first[b] for b in sorted(first)]


CHANNEL_IDS = _one_per_bucket(CHANNELS)


def _zipf_weights(n):
    return [1.0 / (k ** ZIPF_S) for k in range(1, n + 1)]


def entry_script(workload: str, seed: int) -> str:
    names = ENTRY_SETS[workload]
    rng = random.Random(f"{workload}/{seed}")
    blocks = [[]]
    for _ in range(MAX_PASSES):
        order = list(names)
        rng.shuffle(order)
        blocks.append([f"e\t{n}" for n in order])
    return _join(blocks)


def check_names(workload: str):
    """The entries whose output every run checks: the workload's whole set."""
    return sorted(ENTRY_SETS.get(workload, []))


def _join(blocks):
    return "\n--\n".join("\n".join(b) for b in blocks) + "\n"


class _Gen:
    """Seeded payload generator for messages_rw."""

    def __init__(self, seed):
        self.rng = random.Random(f"messages_rw/{seed}")
        self.cw = _zipf_weights(CHANNELS)
        # which channel id holds which popularity rank is the seed's choice
        self.ids = list(CHANNEL_IDS)
        self.rng.shuffle(self.ids)
        self.uw = _zipf_weights(USERS)
        self.batch = 0
        self.uwrite = 0

    def channel(self):
        return self.ids[self.rng.choices(range(CHANNELS), self.cw)[0]]

    def username(self):
        return f"user{self.rng.choices(range(USERS), self.uw)[0]}"

    def messages(self, n, channel=None):
        """One insertMessages batch: n rows posted to `channel`, or to a
        Zipf-chosen channel per row when None."""
        self.batch += 1
        rows = []
        for i in range(n):
            words = " ".join(self.rng.choice(WORDS) for _ in range(self.rng.randint(3, 12)))
            rows.append(f"{channel or self.channel()},author{self.rng.randrange(AUTHORS)},"
                        f"b{self.batch}.{i} {words}")
        return "im\t" + "|".join(rows)

    def users(self, code, names):
        rows = []
        for name in names:
            self.uwrite += 1
            w = self.uwrite
            rows.append(f"uid-{name}-{w},{name},{name}.{w}@example.com,pw{w}")
        return f"{code}\t" + "|".join(rows)

    def distinct_users(self, n):
        seen = []
        while len(seen) < n:
            u = self.username()
            if u not in seen:
                seen.append(u)
        return seen


def messages_script(seed: int) -> str:
    g = _Gen(seed)
    init = [g.users("iu", [f"user{k}" for k in range(USERS)])]
    init.append(g.messages(INIT_MESSAGE_ROWS))
    blocks = [init]
    for p in range(MESSAGE_PASSES):
        reads = [g.ids[r - 1] for r in READ_RANKS]
        posts = [g.ids[r - 1] for r in POST_RANKS]
        ops = []
        for c in PASS_ORDER:
            if c == "im":
                ops.append(g.messages(BATCH_ROWS, posts.pop(0)))
            elif c == "iu":
                ops.append(g.users("iu", g.distinct_users(USER_BATCH)))
            elif c == "uu":
                ops.append(g.users("uu", g.distinct_users(UPSERT_BATCH)))
            elif c == "rc":
                ops.append(f"rc\t{reads.pop(0)}")
            elif c == "ru":
                ops.append(f"ru\t{g.username()}")
            elif c == "dc":
                # retire one of the three coldest channels, none of which
                # the pass reads
                ops.append(f"dc\t{g.ids[CHANNELS - 1 - p % 3]}")
            else:
                ops.append(c)
        blocks.append(ops)
    return _join(blocks)


def script(workload: str, seed: int) -> str:
    if workload == "messages_rw":
        return messages_script(seed)
    return entry_script(workload, seed)


def parse(text: str):
    """Script text -> list of blocks, each a list of (code, args)."""
    blocks = [[]]
    for line in text.split("\n"):
        if line == "--":
            blocks.append([])
        elif line:
            f = line.split("\t")
            blocks[-1].append((f[0], f[1:]))
    return blocks


def counts(blocks):
    """Op counts per type over the given blocks."""
    c = Counter()
    for b in blocks:
        for code, args in b:
            c[args[0] if code == "e" else code] += 1
    return dict(sorted(c.items()))


# ---- messages_rw model check ----

class Model:
    """What the keyspace must hold after each write: messages per channel
    as (batch, channel, author, text) in arrival order, users LWW per
    username, channels emptied by deleteKeys."""

    def __init__(self):
        self.msgs = {}
        self.users = {}
        self.user_bytes = {}

    def apply(self, code, args):
        if code == "im":
            for row in args[0].split("|"):
                ch, author, text = row.split(",")
                self.msgs.setdefault(int(ch), []).append((int(ch), author, text))
        elif code in ("iu", "uu"):
            for row in args[0].split("|"):
                uid, name, email, pw = row.split(",")
                self.users[name] = (uid, name, email)
                self.user_bytes[name] = 8 + len(uid) + len(name) + len(email) + len(pw)
        elif code == "dc":
            self.msgs.pop(int(args[0]), None)

    def expect(self, code, args):
        if code == "rc":
            return self.msgs.get(int(args[0]), [])
        if code == "ru":
            u = self.users.get(args[0])
            return [u] if u else []
        if code == "lu":
            return list(self.users.values())
        if code == "am":
            return [r for rows in self.msgs.values() for r in rows]
        return None

    def live_bytes(self):
        """Bytes of the live user rows, counted as payload_bytes does."""
        msgs = sum(16 + 36 + len(a) + len(t) for rows in self.msgs.values() for _, a, t in rows)
        return msgs + sum(self.user_bytes.values())


def _batch_of(text):
    return int(text.split(" ", 1)[0][1:].split(".")[0])


def payload_bytes(code, args):
    """Bytes of user data a write carries: string lengths plus 8 per
    BIGINT (channel_id and write_seq for messages, write_seq for users)
    and the 36-character message_id the store assigns."""
    if code == "im":
        return sum(16 + 36 + len(a) + len(t)
                   for _, a, t in (r.split(",") for r in args[0].split("|")))
    if code in ("iu", "uu"):
        return sum(8 + sum(len(x) for x in r.split(",")) for r in args[0].split("|"))
    return 0


def check_read(code, expected, got):
    """'' when the rows a read returned match the model, else why not."""
    got = [tuple(r) for r in got]
    if Counter(got) != Counter(tuple(r) for r in expected):
        return f"{code}: {len(got)} rows, model has {len(expected)} (or contents differ)"
    if code == "rc":
        batches = [_batch_of(r[2]) for r in got]
        if any(a < b for a, b in zip(batches, batches[1:])):
            return "rc: rows not newest-first"
    return ""


def check_messages(init, ops):
    """Replay `init` then `ops` (dicts with code, args and, for reads,
    the returned rows and ok flag) through the model; returns the list of
    (op index, reason) for every read whose rows are wrong, and the model
    as it stands after the last op."""
    m = Model()
    for code, args in init:
        m.apply(code, args)
    bad = []
    for i, op in enumerate(ops):
        code, args = op["code"], op["args"]
        if op.get("ok", True):
            if code in READS:
                why = check_read(code, m.expect(code, args), op.get("rows", []))
                if why:
                    bad.append((i, why))
            m.apply(code, args)
        elif code in WRITES:
            # a failed write may or may not have committed; the model
            # cannot follow it, so the remaining reads are not checked
            bad.append((i, f"{code} failed"))
            break
    return bad, m
