"""Seeded generator for the streaming-enrich benchmark.

Produces raw collector messages (the bytes a Kinesis/Kafka record would
carry: a Thrift ``CollectorPayload``, or a gzip archive of them in the
batching protocol) one micro-batch at a time, plus a label for every
input event saying which sink it must land in:

* ``good``   — one enriched TSV line in the good sink;
* ``bad``    — one bad-row JSON line in the bad sink;
* ``failed`` — one TSV line in the failed sink AND one
  ``enrichment_failures`` bad row.

A label is ``(event_id, outcome)``; bad inputs that never get an event id
(malformed Thrift, truncated gzip, unknown vendor) carry ``None``.

Everything is a pure function of ``(workload, seed)``: the same arguments
give byte-identical messages, labels, schemas and geo table.
"""

from __future__ import annotations

import base64
import gzip
import json
import random
import struct
import uuid
from dataclasses import dataclass
from itertools import accumulate
from urllib.parse import urlencode

from enrich_spark.loaders.thrift import encode_payload

WORKLOADS = ("web_get", "tp2_batched", "dirty_mix")

# events per micro-batch (approximate where one message carries several
# events). A JVM's second web_get batch costs ~32 CPU-s of fixed cost
# (planning, JIT of the batch's generated code, scheduling) plus ~3.5 ms of
# CPU per event, so per-event work is about a fifth of a 2500-event batch's
# CPU time. Larger batches raise that share but do not fit the time budget
# (see README.md "Batch size").
BATCH_EVENTS = 2500

T0_MS = 1_760_000_000_000  # collector clock origin (2025-10-09)

UE_ENVELOPE = "iglu:com.snowplowanalytics.snowplow/unstruct_event/jsonschema/1-0-0"
CO_ENVELOPE = "iglu:com.snowplowanalytics.snowplow/contexts/jsonschema/1-0-0"
PAYLOAD_DATA = "iglu:com.snowplowanalytics.snowplow/payload_data/jsonschema/1-0-4"
UA_PARSER_CONTEXT = "iglu:com.snowplowanalytics.snowplow/ua_parser_context/jsonschema/1-0-0"


@dataclass
class Batch:
    messages: list[bytes]
    labels: list[tuple[str | None, str]]  # (event_id, good|bad|failed)

    @property
    def n_events(self) -> int:
        return len(self.labels)

    @property
    def bytes_in(self) -> int:
        return sum(len(m) for m in self.messages)


# ---------------------------------------------------------------------------
# shared pools (fixed: independent of the seed, so every seed draws from
# the same population and only the draws differ)

def _ua_pool() -> list[str]:
    rng = random.Random("ua-pool")
    oses = [
        "Windows NT 10.0; Win64; x64", "Windows NT 6.1; WOW64",
        "Macintosh; Intel Mac OS X 10_15_7", "Macintosh; Intel Mac OS X 13_4",
        "X11; Linux x86_64", "X11; Ubuntu; Linux x86_64",
    ]
    mobiles = [
        "iPhone; CPU iPhone OS 16_5 like Mac OS X", "iPad; CPU OS 15_7 like Mac OS X",
        "Linux; Android 13; Pixel 7", "Linux; Android 12; SM-G991B",
        "Linux; Android 11; Redmi Note 9 Pro",
    ]
    pool = set()
    while len(pool) < 3000:
        kind = rng.random()
        if kind < 0.45:
            pool.add(
                f"Mozilla/5.0 ({rng.choice(oses)}) AppleWebKit/537.36 (KHTML, like Gecko) "
                f"Chrome/{rng.randint(90, 126)}.0.{rng.randint(3000, 6500)}.{rng.randint(0, 200)} "
                "Safari/537.36")
        elif kind < 0.65:
            v = rng.randint(78, 128)
            pool.add(f"Mozilla/5.0 ({rng.choice(oses)}; rv:{v}.0) Gecko/20100101 Firefox/{v}.0")
        elif kind < 0.78:
            pool.add(
                f"Mozilla/5.0 ({rng.choice(mobiles)}) AppleWebKit/605.1.15 (KHTML, like Gecko) "
                f"Version/{rng.randint(12, 17)}.{rng.randint(0, 6)} Mobile/15E148 Safari/604.1")
        elif kind < 0.9:
            pool.add(
                f"Mozilla/5.0 ({rng.choice(mobiles)}) AppleWebKit/537.36 (KHTML, like Gecko) "
                f"Chrome/{rng.randint(90, 126)}.0.{rng.randint(3000, 6500)}.{rng.randint(0, 200)} "
                "Mobile Safari/537.36")
        elif kind < 0.97:
            pool.add(
                f"Mozilla/5.0 ({rng.choice(oses[:2])}) AppleWebKit/537.36 (KHTML, like Gecko) "
                f"Chrome/{rng.randint(100, 126)}.0.0.0 Safari/537.36 Edg/{rng.randint(100, 126)}.0."
                f"{rng.randint(1000, 2500)}.{rng.randint(0, 99)}")
        else:
            pool.add(rng.choice([
                "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
                "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
                f"curl/7.{rng.randint(50, 88)}.0",
            ]) + f" r{rng.randint(0, 99)}")
    return sorted(pool)


UA_POOL = _ua_pool()
# Zipf-like popularity: a few UAs dominate, a long tail of thousands
_UA_CUM = list(accumulate(1.0 / (rank + 1) ** 1.1 for rank in range(len(UA_POOL))))

HOSTS = ["shop.example.com", "www.example.com", "blog.example.com", "docs.example.org"]
PATHS = ["/", "/products", "/products/42", "/cart", "/checkout", "/blog/post-7",
         "/search", "/account", "/docs/start", "/pricing"]
REFERERS = [
    "https://www.google.com/search?q=running+shoes", "https://www.bing.com/search?q=shoes",
    "https://www.facebook.com/", "https://t.co/abc123", "https://duckduckgo.com/?q=shop",
    "https://www.example.com/products", "https://news.ycombinator.com/item?id=1", None, None,
]
UTM = ["", "", "", "utm_source=newsletter&utm_medium=email&utm_campaign=spring",
       "utm_source=google&utm_medium=cpc&utm_term=shoes&gclid=Cj0KCQ", "msclkid=9f8e7d"]
APPS = ["shop", "blog", "docs", "mobile-app"]


def _uuid(rng: random.Random) -> str:
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _ip_str(n: int) -> str:
    return ".".join(str((n >> s) & 255) for s in (24, 16, 8, 0))


def _geo_rows(rng: random.Random, n_ranges: int = 3000) -> list[tuple]:
    """Non-overlapping IPv4 ranges over many distinct /16 buckets; a range
    may span several buckets (the range join explodes it per bucket)."""
    firsts = [a for a in range(1, 224) if a not in (10, 127)]
    prefixes = sorted(rng.sample([a * 256 + b for a in firsts for b in range(256)], n_ranges))
    countries = [("GB", "ENG", "London", "Europe/London"), ("US", "CA", "San Jose", "America/Los_Angeles"),
                 ("DE", "BE", "Berlin", "Europe/Berlin"), ("FR", "IDF", "Paris", "Europe/Paris"),
                 ("JP", "13", "Tokyo", "Asia/Tokyo"), ("BR", "SP", "Sao Paulo", "America/Sao_Paulo"),
                 ("IN", "MH", "Mumbai", "Asia/Kolkata"), ("AU", "NSW", "Sydney", "Australia/Sydney")]
    rows = []
    for i, p in enumerate(prefixes):
        start = p * 65536 + rng.randrange(0, 256) * 256
        length = rng.choice([256, 4096, 65536, 3 * 65536])
        nxt = prefixes[i + 1] * 65536 if i + 1 < len(prefixes) else 1 << 32
        end = min(start + length - 1, nxt - 1)
        c, r, city, tz = rng.choice(countries)
        rows.append((start, end, c, r, city, f"{rng.randint(1000, 99999)}",
                     round(rng.uniform(-60, 60), 4), round(rng.uniform(-170, 170), 4),
                     f"{r}-region", tz, f"ISP {i % 97}", f"Org {i % 389}",
                     f"isp{i % 97}.net", rng.choice(["cable", "broadband", "cellular"])))
    return rows


def _pick_ip(rng: random.Random, geo: list[tuple]) -> str:
    if rng.random() < 0.9:
        lo, hi = geo[rng.randrange(len(geo))][:2]
        return _ip_str(rng.randint(lo, hi))
    return _ip_str(rng.randint(1 << 24, (224 << 24) - 1))  # mostly misses


# ---------------------------------------------------------------------------
# schemas

def _obj(props: dict, required=()) -> dict:
    """A strict object schema: typed properties, no others allowed."""
    return {"$schema": "http://iglucentral.com/schemas/com.snowplowanalytics.self-desc/schema/jsonschema/1-0-0#",
            "type": "object", "properties": props, "required": list(required),
            "additionalProperties": False}


_S = {"type": "string", "maxLength": 255}
_SN = {"type": ["string", "null"], "maxLength": 255}

SCHEMAS = {
    UA_PARSER_CONTEXT: _obj({k: _SN for k in (
        "useragentFamily", "useragentMajor", "useragentMinor", "useragentPatch",
        "useragentVersion", "osFamily", "osMajor", "osMinor", "osPatch",
        "osPatchMinor", "osVersion", "deviceFamily")}),
    "iglu:com.acme/link_click/jsonschema/1-0-0": _obj({
        "targetUrl": {"type": "string", "minLength": 1, "maxLength": 4096},
        "elementId": _S, "elementClasses": {"type": "array", "items": _S, "maxItems": 8},
        "elementTarget": {"type": "string", "enum": ["_self", "_blank", "_parent"]},
    }, required=["targetUrl"]),
    "iglu:com.acme/add_to_cart/jsonschema/1-0-0": _obj({
        "sku": {"type": "string", "pattern": "^SKU-[0-9]{4,8}$"},
        "quantity": {"type": "integer", "minimum": 1, "maximum": 100},
        "unitPrice": {"type": "number", "minimum": 0},
        "currency": {"type": "string", "enum": ["EUR", "USD", "GBP"]},
    }, required=["sku", "quantity", "unitPrice"]),
    "iglu:com.acme/search/jsonschema/1-0-0": _obj({
        "terms": {"type": "array", "items": _S, "minItems": 1, "maxItems": 10},
        "filters": {"type": "object", "additionalProperties": {"type": ["string", "boolean"]}},
        "totalResults": {"type": "integer", "minimum": 0},
    }, required=["terms"]),
    "iglu:com.acme/web_page/jsonschema/1-0-0": _obj({
        "id": {"type": "string", "pattern": "^[0-9a-f-]{36}$"}}, required=["id"]),
    "iglu:com.acme/user/jsonschema/1-0-0": _obj({
        "userId": _S, "tier": {"type": "string", "enum": ["free", "pro", "enterprise"]},
        "signupYear": {"type": "integer", "minimum": 2000, "maximum": 2030},
    }, required=["userId", "tier"]),
    "iglu:com.acme/product/jsonschema/1-0-0": _obj({
        "sku": {"type": "string", "pattern": "^SKU-[0-9]{4,8}$"}, "name": _S,
        "category": _SN, "price": {"type": "number", "minimum": 0},
    }, required=["sku", "price"]),
    # webhook vendor events (data shape is the vendor's; validated as objects)
    "iglu:com.mailchimp/subscribe/jsonschema/1-0-0": {"type": "object"},
    "iglu:com.mandrill/message_sent/jsonschema/1-0-1": {"type": "object"},
    "iglu:com.sendgrid/delivered/jsonschema/3-0-0": {"type": "object"},
}


# ---------------------------------------------------------------------------
# event builders

def _b64(doc) -> str:
    return base64.urlsafe_b64encode(json.dumps(doc, separators=(",", ":")).encode()).decode()


class _Gen:
    def __init__(self, workload: str, seed: int):
        self.rng = random.Random(f"{workload}:{seed}")
        self.geo = _geo_rows(random.Random(f"geo:{seed}"))
        self.clock = T0_MS

    def tick(self) -> int:
        self.clock += self.rng.randint(1, 40)
        return self.clock

    def ua(self) -> str:
        return self.rng.choices(UA_POOL, cum_weights=_UA_CUM)[0]

    def page(self) -> str:
        r = self.rng
        utm = r.choice(UTM)
        return f"https://{r.choice(HOSTS)}{r.choice(PATHS)}" + (f"?{utm}" if utm else "")

    def web_params(self, eid: str, ts: int) -> dict:
        r = self.rng
        e = r.choices(["pv", "pp", "se"], weights=[6, 3, 1])[0]
        p = {"e": e, "aid": r.choice(APPS), "p": "web", "tv": "js-3.24.0", "eid": eid,
             "dtm": str(ts - r.randint(5, 900)), "stm": str(ts - r.randint(0, 4)),
             "url": self.page(), "page": "Example page", "res": "1920x1080",
             "vp": f"{r.randint(800, 1900)}x{r.randint(500, 1000)}", "ds": "1903x4000",
             "lang": r.choice(["en-US", "en-GB", "de-DE", "fr-FR"]), "cs": "UTF-8",
             "duid": _uuid(r), "sid": _uuid(r), "vid": str(r.randint(1, 40)),
             "tz": "Europe/London", "cookie": "1", "cd": "24", "f_pdf": "1", "f_java": "0"}
        refr = r.choice(REFERERS)
        if refr:
            p["refr"] = refr
        if e == "pp":
            p.update(pp_mix="0", pp_max=str(r.randint(0, 500)), pp_miy="0", pp_may=str(r.randint(0, 3000)))
        if e == "se":
            p.update(se_ca="shop", se_ac=r.choice(["add", "remove", "view"]),
                     se_la=f"item-{r.randint(1, 500)}", se_va=str(r.randint(1, 300)))
        return p

    def collector_fields(self, ts: int, ua: str, ip: str, **kw) -> dict:
        r = self.rng
        f = {"ip_address": ip, "timestamp": ts, "encoding": "UTF-8",
             "collector": "ssc-2.9.0-kinesis", "useragent": ua,
             "hostname": "collector.example.com", "network_user_id": _uuid(r),
             "headers": [f"User-Agent: {ua}", "Accept: */*", f"X-Forwarded-For: {ip}",
                         "Host: collector.example.com"]}
        f.update(kw)
        return f

    # --- one unit each --------------------------------------------------------

    def get_event(self) -> tuple[bytes, str]:
        """Single-event tp1 GET payload, one uncompressed message."""
        eid, ts = _uuid(self.rng), self.tick()
        f = self.collector_fields(ts, self.ua(), _pick_ip(self.rng, self.geo),
                                  path="/i", querystring=urlencode(self.web_params(eid, ts)))
        return encode_payload(f), eid

    def ue_event(self) -> dict:
        r = self.rng
        kind = r.randrange(3)
        if kind == 0:
            return {"schema": "iglu:com.acme/link_click/jsonschema/1-0-0",
                    "data": {"targetUrl": self.page(), "elementId": f"btn-{r.randint(1, 99)}",
                             "elementClasses": ["cta", "primary"][: r.randint(0, 2)],
                             "elementTarget": r.choice(["_self", "_blank"])}}
        if kind == 1:
            return {"schema": "iglu:com.acme/add_to_cart/jsonschema/1-0-0",
                    "data": {"sku": f"SKU-{r.randint(1000, 99999)}", "quantity": r.randint(1, 5),
                             "unitPrice": round(r.uniform(1, 500), 2),
                             "currency": r.choice(["EUR", "USD", "GBP"])}}
        return {"schema": "iglu:com.acme/search/jsonschema/1-0-0",
                "data": {"terms": ["shoes", "red", "size 42"][: r.randint(1, 3)],
                         "filters": {"inStock": True, "brand": "acme"},
                         "totalResults": r.randint(0, 900)}}

    def contexts(self) -> list[dict]:
        r = self.rng
        out = [{"schema": "iglu:com.acme/web_page/jsonschema/1-0-0", "data": {"id": _uuid(r)}}]
        if r.random() < 0.6:
            out.append({"schema": "iglu:com.acme/user/jsonschema/1-0-0",
                        "data": {"userId": f"u{r.randint(1, 10**6)}",
                                 "tier": r.choice(["free", "pro", "enterprise"]),
                                 "signupYear": r.randint(2010, 2025)}})
        if r.random() < 0.5:
            out.append({"schema": "iglu:com.acme/product/jsonschema/1-0-0",
                        "data": {"sku": f"SKU-{r.randint(1000, 99999)}", "name": "Runner",
                                 "category": r.choice(["shoes", None]),
                                 "price": round(r.uniform(1, 500), 2)}})
        return out

    def tp2_event(self, eid: str, ts: int, ue: str | None = None) -> dict:
        r = self.rng
        ev = {"e": "ue", "aid": r.choice(APPS), "p": "web", "tv": "js-3.24.0", "eid": eid,
              "dtm": str(ts - r.randint(5, 900)), "stm": str(ts), "url": self.page(),
              "res": "1920x1080", "lang": "en-US", "duid": _uuid(r), "vid": str(r.randint(1, 40))}
        ev["ue_px"] = ue if ue is not None else _b64({"schema": UE_ENVELOPE, "data": self.ue_event()})
        ev["cx"] = _b64({"schema": CO_ENVELOPE, "data": self.contexts()})
        return ev

    def tp2_payload(self, events: list[dict], ts: int, body: str | None = None) -> bytes:
        ua, ip = self.ua(), _pick_ip(self.rng, self.geo)
        if body is None:
            body = json.dumps({"schema": PAYLOAD_DATA, "data": events}, separators=(",", ":"))
        f = self.collector_fields(ts, ua, ip, path="/com.snowplowanalytics.snowplow/tp2",
                                  body=body, content_type="application/json; charset=UTF-8")
        return encode_payload(f)


def _archive(payloads: list[bytes]) -> bytes:
    """gzip archive in the batching protocol ([1][1] then length-prefixed
    records); mtime pinned so the bytes depend on the seed only."""
    body = bytearray([1, 1])
    for p in payloads:
        body += struct.pack(">i", len(p)) + p
    return gzip.compress(bytes(body), mtime=0)


# ---------------------------------------------------------------------------
# workloads

def _web_get_batch(g: _Gen, n: int) -> Batch:
    msgs, labels = [], []
    for _ in range(n):
        m, eid = g.get_event()
        msgs.append(m)
        labels.append((eid, "good"))
    return Batch(msgs, labels)


def _tp2_batch(g: _Gen, n: int) -> Batch:
    msgs, labels = [], []
    while len(labels) < n:
        group = []
        for _ in range(g.rng.randint(2, 5)):
            ts = g.tick()
            events = []
            for _ in range(g.rng.randint(10, 25)):
                eid = _uuid(g.rng)
                events.append(g.tp2_event(eid, ts))
                labels.append((eid, "good"))
            group.append(g.tp2_payload(events, ts))
        msgs.append(_archive(group))
    return Batch(msgs, labels)


_OVERLONG = "x" * 300  # app_id limit is 255


def _dirty_batch(g: _Gen, n: int) -> Batch:
    r = g.rng
    msgs, labels = [], []
    # unit weights chosen so that about half of the EVENTS fail by design
    kinds = ["get", "webhook", "tp2_archive", "tp2_mixed", "malformed",
             "truncated_gzip", "unknown_vendor", "bad_tp2_body", "overlong"]
    weights = [20, 14, 2, 10, 10, 6, 10, 10, 14]
    while len(labels) < n:
        kind = r.choices(kinds, weights=weights)[0]
        ts = g.tick()
        if kind == "get":
            m, eid = g.get_event()
            msgs.append(m)
            labels.append((eid, "good"))
        elif kind == "webhook":
            eid = _uuid(r)
            vendor = r.randrange(3)
            qs = urlencode({"aid": "email", "eid": eid, "cv": "ssc-2.9.0-kinesis"})
            common = dict(querystring=qs, content_type="application/x-www-form-urlencoded")
            if vendor == 0:
                body = urlencode({"type": "subscribe", "fired_at": "2025-10-09 10:00:00",
                                  "data[id]": f"{r.randint(1, 9999):x}",
                                  "data[email]": f"user{r.randint(1, 9999)}@example.com",
                                  "data[merges][FNAME]": "Ada", "data[list_id]": "a6b5da1054"})
                path = "/com.mailchimp/v1"
            elif vendor == 1:
                events = [{"event": "send", "ts": ts // 1000, "_id": f"m{r.randint(1, 10**6)}",
                           "msg": {"email": "user@example.com", "subject": "Hello"}}]
                body = urlencode({"mandrill_events": json.dumps(events)})
                path = "/com.mandrill/v1"
            else:
                body = json.dumps([{"event": "delivered", "email": "user@example.com",
                                    "timestamp": ts // 1000, "sg_event_id": f"sg{r.randint(1, 10**6)}"}])
                path = "/com.sendgrid/v3"
                common["content_type"] = "application/json"
            msgs.append(encode_payload(g.collector_fields(ts, g.ua(), _pick_ip(r, g.geo),
                                                          path=path, body=body, **common)))
            labels.append((eid, "good"))
        elif kind == "tp2_archive":
            events = []
            for _ in range(r.randint(8, 15)):
                eid = _uuid(r)
                events.append(g.tp2_event(eid, ts))
                labels.append((eid, "good"))
            msgs.append(_archive([g.tp2_payload(events, ts)]))
        elif kind == "tp2_mixed":
            # one uncompressed tp2 POST whose events are valid, schema-invalid
            # or carry broken base64
            events = []
            for _ in range(r.randint(2, 5)):
                eid = _uuid(r)
                flavour = r.randrange(3)
                if flavour == 0:
                    events.append(g.tp2_event(eid, ts))
                    labels.append((eid, "good"))
                elif flavour == 1:
                    bad_ue = {"schema": "iglu:com.acme/add_to_cart/jsonschema/1-0-0",
                              "data": {"sku": "not-a-sku", "quantity": 0}}
                    events.append(g.tp2_event(eid, ts, ue=_b64({"schema": UE_ENVELOPE, "data": bad_ue})))
                    labels.append((eid, "bad"))
                else:
                    events.append(g.tp2_event(eid, ts, ue="!!not*base64!!"))
                    labels.append((eid, "bad"))
            msgs.append(g.tp2_payload(events, ts))
        elif kind == "malformed":
            # string field 100 whose declared length overruns the record
            junk = bytes(r.getrandbits(8) for _ in range(r.randint(8, 64)))
            msgs.append(b"\x0b\x00\x64\x7f\xff\xff\xff" + junk)
            labels.append((None, "bad"))
        elif kind == "truncated_gzip":
            inner = [g.get_event()[0] for _ in range(3)]
            arc = _archive(inner)
            msgs.append(arc[: len(arc) // 2])  # one corrupt-input bad row
            labels.append((None, "bad"))
        elif kind == "unknown_vendor":
            msgs.append(encode_payload(g.collector_fields(
                ts, g.ua(), _pick_ip(r, g.geo), path=f"/com.unknown{r.randint(1, 9)}/v9",
                querystring="a=1")))
            labels.append((None, "bad"))
        elif kind == "bad_tp2_body":
            body = r.choice(["{not json", json.dumps({"schema": "iglu:com.acme/wrong/jsonschema/1-0-0",
                                                     "data": [{"e": "pv"}]})])
            msgs.append(g.tp2_payload([], ts, body=body))
            labels.append((None, "bad"))
        else:  # overlong atomic field → failed stream (accept_invalid_atomic=False)
            eid, ts = _uuid(r), g.tick()
            params = g.web_params(eid, ts)
            params["aid"] = _OVERLONG + str(r.randint(0, 9))
            msgs.append(encode_payload(g.collector_fields(
                ts, g.ua(), _pick_ip(r, g.geo), path="/i", querystring=urlencode(params))))
            labels.append((eid, "failed"))
    # keep every label while shuffling message order deterministically
    order = list(range(len(msgs)))
    r.shuffle(order)
    return Batch([msgs[i] for i in order], labels)


_BUILDERS = {"web_get": _web_get_batch, "tp2_batched": _tp2_batch, "dirty_mix": _dirty_batch}


class Generator:
    """Micro-batches of one workload, produced in order on demand.

    The i-th batch depends only on ``(workload, seed)``, so a run that
    hands over more batches extends the same sequence."""

    def __init__(self, workload: str, seed: int):
        if workload not in _BUILDERS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload = workload
        self.seed = seed
        self._g = _Gen(workload, seed)
        self.geo_rows = self._g.geo
        self.schemas = dict(SCHEMAS)
        # the dirty mix sends over-length atomic fields to the failed stream
        self.accept_invalid_atomic = workload != "dirty_mix"

    def next_batch(self) -> Batch:
        return _BUILDERS[self.workload](self._g, BATCH_EVENTS)


def generate(workload: str, seed: int, n_batches: int) -> list[Batch]:
    """The first ``n_batches`` micro-batches of the workload for ``seed``."""
    g = Generator(workload, seed)
    return [g.next_batch() for _ in range(n_batches)]


def label_counts(batches: list[Batch]) -> dict[str, int]:
    out = {"good": 0, "bad": 0, "failed": 0}
    for b in batches:
        for _, outcome in b.labels:
            out[outcome] += 1
    return out
