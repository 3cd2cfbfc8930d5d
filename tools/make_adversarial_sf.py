"""Generate an ADVERSARIAL testdata variant and (optionally) run the
full oracle mirror against it.

Every driver round regenerates the synthetic tables, and every round
so far the regeneration has exposed at least one latent
engine-divergence (round 6: five of them, all invisible at the
previous round's data). This tool front-runs that: a deterministic
dataset with the same schemas as /root/testdata/sf* but engineered to
maximize the known divergence classes —

- integer-count groups sized 640/1280 so count ratios land EXACTLY on
  7th-decimal round-6 midpoints (41/640 = 0.0640625);
- ties everywhere (duplicate timestamps, equal scores, equal counts)
  so every rank/top-k tiebreaker is load-bearing;
- session gaps exactly at the 1800.0 s boundary (> vs >= semantics);
- bucket-edge timestamps (00:00:00.000000, .999999 microseconds) and
  a %Y%U week-00 window;
- unicode hazards in text: vertical tab (Java \\s vs RE2 \\s), mojibake
  (Â + continuation byte), control chars, CJK, emoji; round 4 adds the
  case-mapping hazard set (İ, word-final Σ, ß/ẞ, ligatures, combining
  dot, µ) where Java's full SpecialCasing lower()/upper() diverges from
  DuckDB's simple mapping — all case-mapping must go through
  text.agree_lower (or ASCII translate for upper);
- exact + near duplicate documents, stopword-only and single-word
  docs;
- gauge/count falsy values (value = 0.0), negative values;
- referential-integrity holes (orphan orders/lineitems), orders with
  no lineitems, exact header==Σlines reconciliation matches, NULL
  order dates, malformed priorities, non-positive totals;
- duplicate/zero/opposite embedding vectors, a single-member label.

Usage:
  python tools/make_adversarial_sf.py           # writes .adversarial_sf/
  SPARK_GRAFT_SF_DIR=$PWD/.adversarial_sf python tools/check_correctness.py

Deterministic (seeded); writes only inside the repo.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".adversarial_sf")

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z

rng = random.Random(20240640)


def us(sec: float) -> int:
    return int(round(sec * 1_000_000))


def cents(v: float) -> int:
    """Mirror of the engines' cents extraction (kairos_spark/exact._cents):
    signed floor(|v·100| + 0.5). Python's round() is half-EVEN and
    would mis-account the half-cent tie fixtures (0.125 → 12 vs the
    engines' 13), silently dissolving the 41/640 grand-mean pin."""
    import math

    mag = int(math.floor(abs(v) * 100 + 0.5))
    return mag if v >= 0 else -mag


def make_events():
    rows = []
    eid = 0

    def add(ts_us, user, etype, value, props):
        nonlocal eid
        rows.append((eid, ts_us, user, etype, value, props))
        eid += 1

    # --- the 640-group: event_type 'view' gets EXACTLY 640 events,
    # 41 of them from user 1 (top_share = 41/640, a round-6 midpoint);
    # 41 of them have value > 0 from... no: wilson p_hat per type =
    # (#value>0)/n — make exactly 41 of the 640 have value > 0.
    t = EPOCH_2024
    for i in range(640):
        user = 1 if i < 41 else 2 + (i % 13)
        value = 3.0 if i < 41 else 0.0  # 41/640 positives; 0.0 = falsy
        # duplicate timestamps in runs of 4 → rank ties
        ts = t + (i // 4) * 137
        add(us(ts), user, "view", value, '{"k": %d}' % (i % 7))

    # --- funnel chain with boundary gaps: signup → click → purchase
    for u in range(20, 40):
        base = EPOCH_2024 + 86400 + (u - 20) * 1000
        add(us(base), u, "signup", 1.0, '{"k": 1}')
        # click EXACTLY 1800.0 s later (session-gap boundary)
        add(us(base + 1800.0), u, "click", 2.5, '{"k": 2}')
        if u % 2 == 0:
            add(us(base + 1800.0 + 0.000001), u, "purchase", 99.99, '{"k": 3}')
    # users who click but never signup (funnel/asof edge)
    for u in range(40, 45):
        add(us(EPOCH_2024 + 200000 + u), u, "click", 1.0, "{}")

    # --- errors with negative and integer-valued doubles, bucket-edge ts
    # props exercise the JSON edge set: null, nested object, array,
    # string-typed number, bare junk
    props_cycle = [
        '{"k": null}',
        '{"k": {"m": 1}}',
        '{"k": [1, 2]}',
        '{"k": "12"}',
        '{"j": 5}',
    ]
    for i in range(160):
        ts = EPOCH_2024 + 3600 * i  # EXACTLY on hour boundaries
        add(us(ts), 50 + (i % 5), "error", float(i - 80), props_cycle[i % 5])
    # .999999-microsecond stragglers just before a day boundary
    for i in range(8):
        add(us(EPOCH_2024 + 86400 * (i + 1)) - 1, 60, "error", 0.5, "{}")

    # --- purchases across a %Y%U week-00 window (late Dec / early Jan)
    for i in range(64):
        ts = EPOCH_2024 - 5 * 86400 + i * 43200.0  # spans year boundary
        add(us(ts), 70 + (i % 3), "purchase", 10.0 + (i % 4) * 0.25, '{"k": %d}' % i)

    # --- signup bursts: same user, same second (order_col tiebreaker)
    for i in range(12):
        add(us(EPOCH_2024 + 7 * 86400), 80, "signup", 1.0, '{"k": %d}' % i)

    # single-member groups: one user with exactly one event, and a
    # burst of identical values for a zero-variance slice
    add(us(EPOCH_2024 + 11 * 86400), 95, "view", 7.0, '{"k": 5}')
    # sessionization midpoint fuel: user 90 with 640 clicks in 41 sessions
    # (events_per_session = 640/41 — not a midpoint, but ties the rank)
    sess_ts = EPOCH_2024 + 10 * 86400
    for s in range(41):
        n_in_sess = 16 if s < 25 else 15  # 25*16 + 16*15 = 640
        for j in range(n_in_sess):
            add(us(sess_ts + j * 10), 90, "click", 1.25, "{}")
        sess_ts += n_in_sess * 10 + 3601  # clear gap
    # --- round 7 fixtures for the exact-rational F.round sweep ---
    # Not every 7th-decimal midpoint splits the engines: only those
    # whose nearest DOUBLE sits below the decimal midpoint after the
    # ×10^6 multiply (engine-probed: of all odd non-multiple-of-5
    # n/640, exactly n ∈ {41, 323, 333} split; 5/128-style binary
    # fractions never do). Both fixtures below pin a SPLITTING value.
    # (a) ks_drift: type 'ksmid' with n1 = 1 event before the global
    # time midpoint and n2 = 640 after: 323 low values, the half-1
    # value, then 317 high values → max ECDF gap = 323/640 = 0.5046875
    # (bare double round: Spark 0.504688, DuckDB 0.504687). Placed
    # strictly inside the existing [min, max] span so the global
    # midpoint itself is unchanged.
    cur_min = min(r[1] for r in rows)
    cur_max = max(r[1] for r in rows)
    mid_us = (cur_min + cur_max) // 2
    add(mid_us - 1_000_000, 99, "ksmid", 500.0, "{}")  # half 1, mid value
    for i in range(323):  # half 2 low block: values 1..323
        add(mid_us + (i + 1) * 1_000_000, 99, "ksmid", 1.0 + i, "{}")
    for i in range(317):  # half 2 high block: values 1000..1316
        add(mid_us + (324 + i) * 1_000_000, 99, "ksmid", 1000.0 + i, "{}")
    # (b) absorption_prob midpoint chain: fresh states zab0→zab1→zab2
    # with out-degrees 2/2/160 and 41 of zab2's 160 transitions hitting
    # 'purchase' → p_reach(zab0, 3 steps) = (1/2)(1/2)(41/160) = 41/640
    # = 0.0640625, the canonical splitting midpoint (the computed
    # double equals float(41/640) exactly: the DECIMAL(38,12) per-step
    # bridge is exact for 0.25625 and the two halvings are exponent
    # shifts). zjunk* states are destinations only (terminal, r = 0);
    # each transition comes from a fresh 2-event user so no other data
    # pollutes the counts.
    uid = 200
    chain_t = cur_min + 3 * 86_400_000_000  # safely inside the span

    def add_pair(s, s2):
        nonlocal uid
        add(chain_t + uid * 2_000_000, uid, s, 1.0, "{}")
        add(chain_t + uid * 2_000_000 + 1_000_000, uid, s2, 1.0, "{}")
        uid += 1

    add_pair("zab0", "zab1")
    add_pair("zab0", "zjunk0")
    add_pair("zab1", "zab2")
    add_pair("zab1", "zjunk1")
    for _ in range(41):
        add_pair("zab2", "purchase")
    for _ in range(119):
        add_pair("zab2", "zjunk2")
    # --- round 7c: JSON hazard battery. Every case where the engines'
    # JSON/string-cast semantics diverge off the agreed grammar:
    # malformed JSON (DuckDB json_* hard-errors, Spark returns NULL —
    # oracles need json_valid guards), non-object JSON, float/
    # scientific k (DuckDB TRY_CAST rounds '1.5'->2, parses '1e2';
    # Spark try_cast NULLs — both now gate on ^-?[0-9]{1,12}$),
    # Java-suffix '1d' / underscore '1_000' / hex '0x10' strings (the
    # engines' double casts split three ways — n_numeric now uses an
    # agreed regex), 16-digit int (past the 12-digit cap), negative k
    # (signed mean path). ts strictly inside the existing span so the
    # global min/max midpoint pins are untouched.
    haz_props = [
        "not json at all",
        "",
        "[1, 2]",
        "5",
        '"scalar"',
        "{}",
        '{"k": 1.5}',
        '{"k": 1e2}',
        '{"k": 1.50}',
        '{"k": "1d"}',
        '{"k": "1_000"}',
        '{"k": "0x10"}',
        '{"k": "12"}',
        '{"k": "+5"}',
        '{"k": -7}',
        '{"k": 9007199254740993}',
        '{"k": true}',
        '{"k": 0.1}',
        '{"k": "Infinity"}',
        '{"k": "NaN"}',
        # trailing line terminators inside the JSON string: Java's $
        # (no MULTILINE) matches BEFORE a final \n/\r, RE2's does not —
        # the integer-k gate must use \z or these cast on Spark only
        '{"k": "12\\n"}',
        '{"k": "12\\r"}',
        '{"k": "3.5\\n"}',
    ]
    haz_t = cur_min + 4 * 86_400_000_000
    for i, p in enumerate(haz_props):
        add(haz_t + i * 1_000_000, 500 + i, "jsonhaz", 1.0, p)
    # k_mean splitting midpoint: 640 integer ks summing to 41 ->
    # mean = 41/640 = 0.0640625, the canonical engine-splitting
    # 7th-decimal midpoint (bare double round: Spark .064063 / DuckDB
    # .064062); the integer-ratio restructure must agree exactly
    for i in range(640):
        kv = 41 if i == 0 else 0
        add(haz_t + 30_000_000 + i * 1_000_000, 600 + (i % 7), "jsonmid", 0.0,
            '{"k": %d}' % kv)
    # --- round 8: ts_series_transforms_hour per-hour mean midpoint.
    # One hour of exactly 32 'click' events whose cent sum is 205 →
    # mean_v = 205/3200 = 41/640 = 0.0640625, the canonical
    # engine-splitting 7th-decimal midpoint (bare F.round(avg):
    # Spark .064063 / DuckDB .064062). Pins the exact cents-ratio
    # restructure of the per-hour series mean. Hour-aligned and
    # strictly inside the span; precedes the grand-mean padding below,
    # which recomputes over ALL rows including these.
    hour_us = 3_600_000_000
    # cur_min + ~8 days: clear of the funnel clicks (+6d region) and
    # the user-90 session clicks (+15d region) — the hour must hold
    # ONLY these 32 events or the pinned mean dissolves
    click_t = (cur_min // hour_us + 192) * hour_us
    for i in range(32):
        add(click_t + i * 1_000_000, 700 + (i % 5), "click",
            0.19 if i == 0 else 0.06, '{"k": %d}' % (i % 3))
    # --- round 9: cents-extraction tie rule (ADVICE r8). Dyadic
    # 3-decimal values land EXACTLY on half-cents in binary (0.125*100
    # = 12.5): F.rint (half-even -> 12) vs DuckDB round(x,0)
    # (half-away -> 13) would split every cents-ratio query reading
    # `value`; both sides now compute signed floor(|x·100| + 0.5).
    # Values are dyadic so x*100 is exactly half-integral, negatives
    # exercise the signed branch.
    tie_t = cur_min + 4 * 86_400_000_000
    for i, v in enumerate([0.125, -0.375, 2.625, -0.125, 5.875]):
        add(tie_t + i * 1_000_000, 9500 + i, "centtie", v, "{}")
    # --- round 11: cuped_adjustment sub-5e-7 negative raw_mean
    # (ADVICE r10). Force md5-variant 0's POST-period cent sum to
    # EXACTLY -1 with > 2·10^4 variant-0 users, so raw_mean =
    # -1/(100·n_users) lies in (-5e-7, 0) and rounds to ZERO: the
    # signed ratio helpers' old `.otherwise(-mag)` emitted Spark -0.0
    # there while the oracle emits +0.0 — the value-hash split the
    # local mirror masks (Python -0.0 == 0.0) but zero_audit and the
    # driver see. Computed dynamically: existing variant-0 post cents
    # are summed and cancelled, so the block survives fixture churn.
    # All rows sit strictly inside the span (min/max pins untouched)
    # and strictly AFTER the exact integer-µs midpoint bound; the
    # grand-mean padding below (pre-period by construction, asserted)
    # re-balances totals afterward as always.
    import hashlib

    def _bucket2(uid: int) -> int:
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:11], 16) % 2

    cz_min = min(r[1] for r in rows)
    cz_max = max(r[1] for r in rows)
    bound_us = cz_min + (cz_max - cz_min) // 2
    post_t = cz_min + (cz_max - cz_min) * 3 // 4
    assert post_t > bound_us and post_t < cz_max
    s0 = sum(
        cents(r[4])
        for r in rows
        if r[1] >= bound_us and _bucket2(r[2]) == 0
    )
    need = -1 - s0  # cents still owed to variant 0's post sum
    cz_uids = []
    uid = 100_000
    while len(cz_uids) < 20_050:
        if _bucket2(uid) == 0:
            cz_uids.append(uid)
        uid += 1
    for i, u in enumerate(cz_uids):
        step = max(-50_000, min(need, 50_000))
        need -= step
        add(post_t + i * 1_000_000, u, "cupedz", step / 100.0, "{}")
    assert need == 0
    assert post_t + (len(cz_uids) - 1) * 1_000_000 < cz_max
    assert (
        sum(
            cents(r[4])
            for r in rows
            if r[1] >= bound_us and _bucket2(r[2]) == 0
        )
        == -1
    )

    # --- round 8: bootstrap_ci_mean global-mean midpoint (VERDICT r7).
    # Pad the WHOLE events table so the grand mean of `value` lands
    # EXACTLY on 41/640 = 0.0640625, the canonical engine-splitting
    # 7th-decimal midpoint (bare F.round(avg): Spark .064063 / DuckDB
    # .064062; the exact cents-ratio restructure must agree). Computed
    # dynamically from whatever the fixtures above summed to, so this
    # block stays correct when earlier fixtures change: target
    # n_total = 640·m rows and sum_cents = 4100·m. Padding rows use a
    # fresh type/users and ts strictly inside the existing span (the
    # global ts min/max midpoint pins above are untouched).
    n_cur = len(rows)
    c_cur = sum(cents(r[4]) for r in rows)
    # padding rows carry |value| <= 500.00 (negative allowed — the
    # error fixture already ships negatives), so each moves the cent
    # sum by at most 50000; grow m until the needed correction fits
    m = (n_cur + 639) // 640 + 1
    while abs(4100 * m - c_cur) > (640 * m - n_cur) * 50000:
        m += 1
    n_pad = 640 * m - n_cur
    s_pad = 4100 * m - c_cur  # cents still needed (either sign)
    boot_t = cur_min + 5 * 86_400_000_000
    for i in range(n_pad):
        step = max(-50000, min(s_pad, 50000))
        s_pad -= step
        add(boot_t + i * 1_000_000, 9000 + (i % 17), "bootmid",
            step / 100.0, "{}")
    assert s_pad == 0
    # the padding must stay PRE-period or it would disturb the cupedz
    # variant-0 post-sum pin above (bound_us from the same min/max)
    assert n_pad == 0 or boot_t + (n_pad - 1) * 1_000_000 < bound_us
    assert len(rows) % 640 == 0
    # sum_cents/(100·n) == 41/640  ⇔  640·sum_cents == 4100·n
    assert sum(cents(r[4]) for r in rows) * 640 == 4100 * len(rows)
    rows.sort(key=lambda r: (r[1], r[0]))
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )


WORDS = (
    "the fast key order sort table scan merge part window small hash "
    "join group query row data slow filter customer line batch value"
).split()


def make_documents():
    rows = []
    did = 0

    def add(text, lang, source):
        nonlocal did
        rows.append((did, text, lang, source, len(text)))
        did += 1

    # length-640 docs with 41 punctuation chars → punct_ratio midpoint
    base = ("word " * 120)[:599]  # 599 chars
    add(base + "!" * 41, "en", "src1")
    # length-1280 with 1 digit → digit_ratio = 1/1280 = 0.00078125
    add(("data " * 256)[:1279] + "7", "en", "src1")
    # exact duplicates across sources (dedup groups, keep-first)
    dup = "the quick brown fox jumps over the lazy dog again and again"
    for s in ("src1", "src2", "src3"):
        add(dup, "en", s)
    # near-duplicate (one token changed) — MinHash/SimHash candidates
    add(dup.replace("lazy", "sleepy"), "en", "src2")
    # shingle-heavy self-repetition (duplicated_spans, repetition_stats)
    add(("alpha beta gamma delta " * 40).strip(), "en", "src4")
    # stopword-only and single-word docs
    add("the and of to in is that for with the and of", "en", "src4")
    add("supercalifragilistic", "en", "src5")
    # unicode hazards
    add("tab\x0bseparated\x0bvalues with vertical tabs", "en", "src5")
    add("mojibake: cafÃ© naÃ¯ve Â  broken", "en", "src5")
    add("control\x01chars\x1fin\x7ftext here", "en", "src5")
    add("中文文本测试 空格 与 标点。数据 管道 去重 测试。", "zh", "src6")
    add("emoji 🚀 in 🚀 text 🚀 tokens", "en", "src6")
    # per-language fleets so langid/fertility groups are non-degenerate
    de = "der die und das ist nicht mit ein werte daten tabelle"
    fr = "le la les et est que pour dans donnees table jointure"
    es = "el la los que es para con una datos tabla consulta"
    for i in range(20):
        add(de + " " + " ".join(rng.choices(WORDS, k=8)), "de", f"src{1 + i % 4}")
        add(fr + " " + " ".join(rng.choices(WORDS, k=8)), "fr", f"src{1 + i % 4}")
        add(es + " " + " ".join(rng.choices(WORDS, k=8)), "es", f"src{1 + i % 4}")
        add(" ".join(rng.choices(WORDS, k=30)), "en", f"src{1 + i % 8}")
        add("".join(rng.choices("的一是了我不人在他有这上们来", k=25)), "zh", f"src{5 + i % 3}")
    # a source whose docs are ALL duplicates of each other (dup_frac 1-ish)
    for i in range(16):
        add("identical boilerplate footer text for every page", "en", "src7")
    # docs sharing long spans at different offsets (span dedup)
    span = " ".join(WORDS) + " " + " ".join(reversed(WORDS))
    add("prefix junk " + span, "en", "src8")
    add(span + " suffix junk", "en", "src8")
    # degenerate shapes: digit-only, single-char, punctuation-only,
    # heavy consecutive whitespace
    add("1234567890 24680 13579", "en", "src8")
    add("x", "en", "src8")
    add("!!! ??? ... ;;; :::", "en", "src8")
    add("a     b\t\t\tc\n\n\nd", "en", "src8")
    # --- round 7b: empty / whitespace-only / frame-boundary docs.
    # Empty and all-whitespace texts drive every per-doc token/char
    # denominator to 0 (ANSI div0 guard class) and expose
    # split-on-empty-string token semantics; the 256/257-byte ASCII
    # pair pins the exact frame boundary (floor((n-1)/256)+1 flips).
    add("", "en", "src8")
    add(" \t\n\x0c\r  ", "en", "src8")
    add("b" * 256, "en", "src8")
    add(("c " * 129)[:257], "en", "src8")
    # prefix-boundary twins: identical first 160 chars, divergent tails
    head160 = ("boundary test " * 12)[:160]
    add(head160 + " tail one ends here", "en", "src2")
    add(head160 + " a completely different continuation", "en", "src2")
    # case-only and trailing-whitespace-only near-duplicates
    add("Case Sensitive Duplicate Text Sample", "en", "src3")
    add("case sensitive duplicate text sample", "en", "src3")
    add("trailing whitespace doc", "en", "src3")
    add("trailing whitespace doc   ", "en", "src3")
    # --- round 4: Unicode case-mapping hazards. Java (Spark) applies
    # full SpecialCasing in lower()/upper(): İ → "i"+U+0307, word-final
    # Σ → ς, ß → SS; DuckDB's utf8proc applies the 1:1 simple mapping
    # (İ→i, Σ→σ always, ß→ẞ). Every tokenizer/normalizer must case-map
    # through text.agree_lower so both engines see identical bytes.
    add("İstanbul İZMİR the İİİ city", "tr", "src9")
    add("ΟΔΥΣΣΕΥΣ ΚΑΙ Η ΣΟΦΙΑ Σ ΤΕΛΟΣ", "el", "src9")
    add("weiß Straße GROSS ẞETA ß end", "de", "src9")
    add("oﬃce ﬁne ﬂow ligature stuﬀ", "en", "src9")
    add("pre-dotted i̇dot and micro µ vs mu μ", "en", "src9")
    # case-only duplicate pair THROUGH the hazard mapping: both must
    # normalize to the same digest in both engines
    add("ΣΙΣΥΦΟΣ the stone test", "el", "src9")
    add("σισυφος the stone test", "el", "src9")
    # grapheme clusters: ZWJ family, flag pair, NBSP, ideographic
    # space, astral math letters — length/substr are codepoint-based
    # in BOTH engines (probed), this pins it end to end
    add("family 👨‍👩‍👧 flag 🇺🇸 nb sp wide　space 𝕊𝕡𝕒𝕣𝕜", "en", "src9")
    # --- round 8: quality-rule-pack hazards. Multi-line docs exercise
    # the bullet/ellipsis LINE rules (driver docs are single-line, so
    # without these r04/r05 never see a non-trivial line split);
    # '…' is a single codepoint in both engines' length(); the
    # 10-words/one-'...' doc lands EXACTLY on the 10*sym == words rule
    # boundary (integer equality — must pass on both engines).
    add("- bullet one\n- bullet two\n• bullet three\n* bullet four\nplain", "en", "src11")
    add("- every\n- line\n- is\n- a\n- bullet", "en", "src11")  # fails r04
    add("trailing ellipsis…\nanother one...\nand more... \nplain\nlast…", "en", "src11")
    # CRLF document: split on \n leaves a trailing \r on every line —
    # Java's $ would match "dots...\r" where RE2's $ refuses (the \z
    # anchor class); also pins CRLF word/char counting
    add("ends with dots...\r\nplain line here\r\n- bullet\r\nlast...", "en", "src11")
    add("lorem ipsum dolor sit amet { not json } end", "en", "src11")
    add("#### hash #tags ### everywhere # yes ## tag", "en", "src11")
    add("…ellipsis … start … and … middle …", "en", "src11")
    add("alpha beta gamma delta epsilon zeta eta theta iota kappa...", "en", "src11")
    # exactly 50 words (r01 lower bound) with 3-letter words (r02 lower
    # bound: 3*words == nonspace chars, both equalities at once)
    add(" ".join("abc" for _ in range(50)), "en", "src11")
    # a source with ZERO [a-z]+ tokens in every doc: token_budget_alloc
    # must drop it via the avail >= 1 guard on BOTH engines (its sqrt
    # weight would be 0 and its epochs undefined)
    add("123 456 789 000", "en", "src12digits")
    add("42 7 1000000 5", "en", "src12digits")
    # --- round 10: line-grain and boundary-gram hazards.
    # dup_line_stats: duplicate lines with a CRLF line (the \r stays on
    # the line in BOTH engines' split-on-\n), a whitespace-only line
    # (dropped by the trim guard on both), and a digit-heavy repeated
    # line driving the char fraction; plus an all-one-line doc
    # (dup_line_frac -> (n-1)/n).
    add("alpha line\r\nalpha line\r\n   \nbeta 12345 xx\nbeta 12345 xx\nbeta 12345 xx", "en", "src13")
    add("\n".join(["same line every time"] * 7), "en", "src13")
    # boundary_overlap: a tail->head chain whose shared 8-token gram
    # carries the İ/Σ case hazards — the gram digest must agree across
    # engines only because tokenization runs through agree_lower
    chain_gram = "İstanbul ΣΟΦΙΑ gamma delta epsilon zeta eta theta"
    add("chain starts here with filler words then " + chain_gram, "el", "src13")
    add(chain_gram + " continues the split record body afterwards", "el", "src13")
    # blocklist_audit: mixed-case and dotted-İ phrase forms — 'Lorem
    # İpsum' must lowercase to 'lorem ipsum' IDENTICALLY (agree_lower's
    # İ→i pre-translate vs DuckDB's simple mapping); a newline inside
    # the phrase must NOT match on either engine (the escaped literal
    # space matches only U+0020)
    add("Lorem İpsum dolor TERMS OF USE and Lorem\nIpsum broken", "tr", "src13")
    # --- round 7: 32-bit-width stress doc (~60 KB). ANSI INT overflow
    # in length()/regexp_count()-fed arithmetic only bites once a
    # per-doc count clears 2^31/2e6 ≈ 1073 (the exact.py ratio-helper
    # class caught this round) — one large digit- and punct-heavy
    # document keeps every length-scaled numerator well past that.
    # High-entropy tokens (own seeded rng) so gram joins stay sparse.
    brng = random.Random(0x5EED7)
    big = []
    for i in range(6000):
        big.append(str(brng.randrange(10**8)))
        if i % 7 == 0:
            big.append("!?;:!?;:!?;:")
        if i % 11 == 0:
            big.append(f"wörd{i}µ")
    add(" ".join(big), "en", "src10")
    # --- round 7: chao1 7th-decimal midpoint fixture. Pin corpus-wide
    # F2 (tokens seen exactly twice) to 2^7·5^k/2 ∈ {320, 1600} with F1
    # odd, so chao1 = V + F1²/(2·F2) lands EXACTLY on a ...5×10⁻⁷
    # midpoint (odd² · 10^7/(2·F2) ends in 5) — the
    # F.round-on-exact-rational class CORRECTNESS_r06 caught in
    # chao1_richness. Tokenization mirrors text.word_tokens:
    # agree_lower (İ→i, Σ→σ pre-translate) → collapse [ \t\n\f\r]+ →
    # trim → split(" ").
    import re as _re
    from collections import Counter

    def _toks(s):
        s = s.translate({0x130: "i", 0x3A3: "σ"}).lower()
        s = _re.sub("[ \t\n\x0c\r]+", " ", s).strip(" ")
        return s.split(" ")

    cnt = Counter(t for r in rows for t in _toks(r[1]))
    f1 = sum(1 for v in cnt.values() if v == 1)
    f2 = sum(1 for v in cnt.values() if v == 2)
    target_f2 = 320 if f2 <= 320 else 1600
    filler = []
    for i in range(target_f2 - f2):
        filler.append(f"chao1filler{i:04d}")  # fresh token twice → F2 += 1
        filler.append(f"chao1filler{i:04d}")
    if f1 % 2 == 0:
        filler.append("chao1loner")  # fresh singleton → F1 becomes odd
    add(" ".join(filler), "en", "src10")
    # --- round 8: packing_efficiency exact-boundary pin. Append a doc
    # whose [a-z]+ token count pads the corpus cumulative total to an
    # exact multiple of 128, then a 1-token doc that STARTS exactly on
    # that context boundary — the (end-1) div L off-by-one only shows
    # when a document edge coincides with a boundary. Tokens are 'the'
    # (already high-frequency) so the chao1 F1/F2 pin above is
    # untouched. Token count mirrors the operator: agree_lower →
    # regexp [a-z]+ (digits SPLIT letter runs, unlike word_tokens).
    def _atoks(s):
        s = s.translate({0x130: "i", 0x3A3: "σ"}).lower()
        return len(_re.findall("[a-z]+", s))

    total_az = sum(_atoks(r[1]) for r in rows)
    pad = 128 - (total_az % 128)
    if pad < 2:
        pad += 128
    add(" ".join("the" for _ in range(pad)), "en", "src11")
    add("the", "en", "src11")
    rows.sort(key=lambda r: r[0])
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )


def make_embeddings():
    dim = 64
    vecs, labels = [], []

    def unit(i):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    for i in range(40):  # axis-aligned, many exact ties in cosine
        vecs.append(unit(i))
        labels.append(i % 10)
    # exact duplicates
    for i in range(10):
        vecs.append(unit(3))
        labels.append(3)
    # opposite vector
    neg = [0.0] * dim
    neg[3] = -1.0
    vecs.append(neg)
    labels.append(4)
    # a ZERO vector (norm 0 — cosine undefined; the zero-norm guard
    # must behave identically in both engines)
    vecs.append([0.0] * dim)
    labels.append(5)
    # two labels with IDENTICAL centroids: label 6 = two copies of the
    # same pair of vectors as label 8 (centroid separation exactly 0)
    twin_a, twin_b = unit(6), unit(7)
    for lbl in (6, 8):
        vecs.append(twin_a[:])
        labels.append(lbl)
        vecs.append(twin_b[:])
        labels.append(lbl)
    # dense deterministic vectors with duplicates
    for i in range(60):
        v = [round(((i * 31 + j * 17) % 13 - 6) / 7.0, 6) for j in range(dim)]
        vecs.append(v)
        labels.append(i % 10)
    vecs.append(vecs[-1][:])  # duplicate of the last dense vector
    labels.append(9)
    # round 9: 1e-12-grid quantization TIES. m/8192 (odd m) is exactly
    # float32-representable and v·1e12 lands exactly on k+0.5, where
    # Spark's double→DECIMAL cast rounds half-AWAY and DuckDB's rounds
    # half-EVEN (engine-probed). embedding_moments therefore quantizes
    # with sign·floor(|v|·1e12 + 0.5) — these vectors keep the tie rule
    # pinned through every embedding-reading query.
    for m in (1, 3, 5, -1, -3):
        v = [0.0] * dim
        v[0] = m / 8192.0
        v[1] = -m / 8192.0
        v[2] = m / 4096.0  # non-tie dyadic control
        vecs.append(v)
        labels.append(abs(m) % 10)
    return pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]


def make_tpch():
    region = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array(NATIONS, pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    n_cust = 60
    customer = pa.table(
        {
            "c_custkey": pa.array(range(1, n_cust + 1), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array([i % 25 for i in range(n_cust)], pa.int32()),
            # ties and negatives in acctbal
            "c_acctbal": pa.array(
                [(-999.99 if i % 17 == 0 else round((i % 7) * 111.11, 2)) for i in range(n_cust)],
                pa.float64(),
            ),
            "c_mktsegment": pa.array([segs[i % 5] for i in range(n_cust)]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(1, 11), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, 11)]),
            "s_nationkey": pa.array([i % 25 for i in range(10)], pa.int32()),
            "s_acctbal": pa.array([round(i * 100.5, 2) for i in range(10)], pa.float64()),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(range(1, 31), pa.int64()),
            "p_name": pa.array([f"part metal {i}" for i in range(1, 31)]),
            "p_brand": pa.array([f"Brand#{(i % 5) + 1}{(i % 4) + 1}" for i in range(30)]),
            "p_type": pa.array([f"STANDARD {('ANODIZED','BURNISHED','PLATED')[i % 3]} TIN" for i in range(30)]),
            "p_size": pa.array([(i % 10) + 1 for i in range(30)], pa.int32()),
            "p_retailprice": pa.array([round(900 + i * 1.01, 2) for i in range(30)], pa.float64()),
        }
    )
    # orders: engineered reconciliation + integrity edges
    n_ord = 200
    statuses = ["O", "F", "P"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    okeys, ocust, ostat, oprice, odate, oprio = [], [], [], [], [], []
    li = []  # (okey, partkey, suppkey, linenum, qty, extprice, disc, tax, rf, ls, shipdate)
    for i in range(1, n_ord + 1):
        okeys.append(i)
        # orphan orders: custkey beyond customer table for a few
        ocust.append(1000 + i if i % 37 == 0 else (i % n_cust) + 1)
        ostat.append(statuses[i % 3])
        prio = prios[i % 5]
        if i == 7:
            prio = "9-BOGUS"  # malformed priority (expectations violation)
        oprio.append(prio)
        odate.append(None if i == 11 else us(EPOCH_2024 - 200 * 86400 + i * 86400 // 2))
        if i % 29 == 0:
            # order with NO lineitems → reconciliation mismatch by full amount
            oprice.append(123.45 if i != 58 else -5.0)  # one non-positive total
            continue
        n_lines = (i % 4) + 1
        total = 0.0
        for ln in range(1, n_lines + 1):
            qty = float((i + ln) % 9 + 1)
            ep = round(qty * (100 + (i % 13) * 7) * 1.0, 2)
            # one fully-discounted (net-zero) line family
            disc = 1.0 if i % 41 == 0 else [0.0, 0.05, 0.1][(i + ln) % 3]
            tax = [0.0, 0.04, 0.08][(i + ln * 2) % 3]
            li.append(
                (
                    i, (i + ln) % 30 + 1, (i + ln) % 10 + 1, ln, qty, ep, disc, tax,
                    ["A", "N", "R"][(i + ln) % 3], ["F", "O"][(i + ln) % 2],
                    us(EPOCH_2024 - 150 * 86400 + (i * 3 + ln) * 86400 // 4),
                )
            )
            total += ep * (1 - disc) * (1 + tax)
        # half the orders reconcile EXACTLY; half are off by one cent
        oprice.append(round(total, 2) if i % 2 == 0 else round(total + 0.011, 2))
    # orphan lineitems referencing a non-existent order
    for ln in range(1, 4):
        li.append((9999, ln, 1, ln, 1.0, 50.0, 0.0, 0.0, "N", "O", us(EPOCH_2024)))
    orders = pa.table(
        {
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(ocust, pa.int64()),
            "o_orderstatus": pa.array(ostat, pa.string()),
            "o_totalprice": pa.array(oprice, pa.float64()),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": pa.array(oprio, pa.string()),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in li], pa.int64()),
            "l_partkey": pa.array([r[1] for r in li], pa.int64()),
            "l_suppkey": pa.array([r[2] for r in li], pa.int64()),
            "l_linenumber": pa.array([r[3] for r in li], pa.int32()),
            "l_quantity": pa.array([r[4] for r in li], pa.float64()),
            "l_extendedprice": pa.array([r[5] for r in li], pa.float64()),
            "l_discount": pa.array([r[6] for r in li], pa.float64()),
            "l_tax": pa.array([r[7] for r in li], pa.float64()),
            "l_returnflag": pa.array([r[8] for r in li], pa.string()),
            "l_linestatus": pa.array([r[9] for r in li], pa.string()),
            "l_shipdate": pa.array([r[10] for r in li], pa.timestamp("us")),
        }
    )
    return region, nation, customer, supplier, part, orders, lineitem


def main():
    os.makedirs(OUT, exist_ok=True)
    region, nation, customer, supplier, part, orders, lineitem = make_tpch()
    tables = {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": make_events(),
        "documents": make_documents(),
        "embeddings": make_embeddings(),
    }
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(OUT, f"{name}.parquet"))
        print(f"{name}: {tbl.num_rows} rows")
    # sanity: schemas must match the driver's
    con = duckdb.connect()
    for name in tables:
        ref = con.execute(
            f"DESCRIBE SELECT * FROM '/root/testdata/sf0.001/{name}.parquet'"
        ).fetchall()
        got = con.execute(
            f"DESCRIBE SELECT * FROM '{OUT}/{name}.parquet'"
        ).fetchall()
        ref_s = [(c[0], c[1]) for c in ref]
        got_s = [(c[0], c[1]) for c in got]
        if ref_s != got_s:
            print(f"SCHEMA MISMATCH {name}:\n  ref={ref_s}\n  got={got_s}")
            return 1
    print(f"\nwritten to {OUT}; schemas match the driver's")
    return 0


if __name__ == "__main__":
    sys.exit(main())
