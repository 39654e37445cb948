"""Seeded bronze generator for the medallion benchmark.

Writes reference-shaped `*.jsonl.gz` parts under
`bronze/{source}/[scope=]/entity=/ingestion_date=/run_id=` for all 17
entities of `pipeline.ENTITY_ORDER`, with the dirty-data features of
`tests/fixtures.py` and FIXTURES.md: alternate keys, flat-or-nested
variants, late versions, null keys, dict-where-string and exact
duplicate entries.

Every field value comes from a PRNG seeded by a hash of
(seed, entity, key, version), never from `i % M`, so distinct keys grow
with the record count. Parts are gzip with mtime 0, so one seed gives
byte-identical bronze. `Bronze.expected()` returns the post-run state the
pipeline must reach: distinct STG/CORE keys per table and null-key drops.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

SCOPES = ("comercial", "expansao")

# (table, source, bronze entity, scoped, share of the record budget).
# Proportions follow the reference: entries >> sales ~ members >
# prospects > CRM > Zendesk. Dimensions are fixed-size.
ENTITIES: tuple[tuple[str, str, str, bool, float], ...] = (
    ("evo_prospects", "evo", "prospects", False, 0.04),
    ("evo_members", "evo", "members", False, 0.09),
    ("evo_sales", "evo", "sales", False, 0.09),
    ("evo_entries", "evo", "entries", False, 0.70),
    ("pd_pipelines", "pipedrive", "pipelines", True, 0.0),
    ("pd_stages", "pipedrive", "stages", True, 0.0),
    ("pd_users", "pipedrive", "users", True, 0.0),
    ("pd_organizations", "pipedrive", "organizations", True, 0.004),
    ("pd_persons", "pipedrive", "persons", True, 0.012),
    ("pd_deals", "pipedrive", "deals", True, 0.015),
    ("pd_activities", "pipedrive", "activities", True, 0.01),
    ("zd_organizations", "zendesk", "organizations", False, 0.002),
    ("zd_users", "zendesk", "users", False, 0.004),
    ("zd_groups", "zendesk", "groups", False, 0.0),
    ("zd_ticket_fields", "zendesk", "ticket_fields", False, 0.0),
    ("zd_ticket_forms", "zendesk", "ticket_forms", False, 0.0),
    ("zd_tickets", "zendesk", "tickets", False, 0.014),
)
DAY_SHARE = 0.01  # keys touched by one daily run
_FIXED_SIZE = {"pd_pipelines": 3, "pd_stages": 6, "pd_users": 5, "zd_groups": 3,
               "zd_ticket_fields": 4, "zd_ticket_forms": 2}


def _rng(*parts) -> random.Random:
    h = hashlib.blake2b("|".join(map(str, parts)).encode(), digest_size=8).digest()
    return random.Random(int.from_bytes(h, "little"))


def _ts(rng: random.Random, lo_year: int = 2020, hi_year: int = 2025) -> str:
    return (f"{rng.randint(lo_year, hi_year)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
            f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}Z")


def _version_ts(version: int) -> str:
    """Monotone recency stamp: a later version always sorts later."""
    return f"2026-{1 + version // 28:02d}-{1 + version % 28:02d}T00:00:00Z"


def _money(rng: random.Random, hi: int = 500) -> str:
    return f"{rng.randint(0, hi)}.{rng.randint(0, 99):02d}"


# -- record builders: (seed, key, version, refs) -> dict -------------------


def _member(seed, k, v, refs):
    r = _rng(seed, "members", k, v)
    stable = _rng(seed, "members", k)
    rec = {
        "idMember": k, "idBranch": r.randint(1, 40), "branchName": f"Branch {r.randint(1, 40)}",
        "firstName": f"First{r.getrandbits(24)}", "lastName": f"Last{r.getrandbits(24)}",
        "gender": r.choice(["M", "F"]), "status": r.choice(["Active", "Inactive"]),
        "membershipStatus": r.choice(["active", "expired"]),
        "penalized": r.choice([True, False, "true", "false"]),
        "totalFitCoins": _money(r), "registerDate": _ts(stable), "updateDate": _version_ts(v),
        "accessBlocked": r.random() < 0.05,
        "contacts": [
            {"idPhone": k * 10 + 1, "idContactType": 1, "typeDescription": "cell", "ddi": "55",
             "description": f"+55119{r.getrandbits(26):08d}"},
            {"idPhone": k * 10 + 2, "idContactType": 4, "typeDescription": "email", "ddi": None,
             "description": f"m{k}@example.com"},
        ],
        "memberships": [
            {"idMemberMembership": k * 10 + m, "idMembership": 10 + stable.randint(0, 30),
             "membershipName": f"Plan {m}", "idSale": k * 10 + m, "saleDate": _ts(r),
             "startDate": _ts(r), "endDate": _ts(r, 2025, 2027),
             "membershipStatus": r.choice(["active", "expired", "canceled"]),
             "valueNextMonth": _money(r, 300), "originalValue": _money(r, 300),
             "numMembers": 1, "flAllowLocker": r.random() < 0.5, "signedTerms": True,
             "limitless": r.random() < 0.3, "weeklyLimit": r.randint(1, 7),
             "concludedSessions": r.randint(0, 50), "pendingSessions": r.randint(0, 10)}
            for m in range(_n_memberships(seed, k))
        ],
    }
    rec["addressNumber" if r.random() < 0.5 else "number"] = str(r.randint(1, 9999))
    rec["photoUrl" if r.random() < 0.3 else "photo"] = f"https://img/{k}.jpg"
    emp = r.randint(900, 999)
    if r.random() < 0.5:
        rec["idEmployeeConsultant"] = emp
    else:
        rec["employeeConsultant"] = {"idEmployee": emp, "name": f"Emp{emp}"}
    if r.random() >= 0.1:
        rec["birthDate"] = f"{r.randint(1950, 2005)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"
    return rec


def _n_memberships(seed, k) -> int:
    return _rng(seed, "memberships", k).randint(0, 3)


def _n_sale_lines(seed, k) -> int:
    return _rng(seed, "sale_lines", k).randint(1, 3)


def _sale(seed, k, v, refs):
    r = _rng(seed, "sales", k, v)
    member = refs["members"](r)
    n = _n_sale_lines(seed, k)
    return {
        "idSale": k, "idMember": member, "idProspect": None if member else refs["prospects"](r),
        "idEmployeeSale": r.randint(900, 999), "nameEmployeeSale": f"Emp{r.randint(900, 999)}",
        "idBranch": r.randint(1, 40), "saleDate": _ts(r), "updateDate": _version_ts(v),
        "saleSource": r.randint(0, 3), "removed": r.random() < 0.05,
        "saleItens": [
            {"idSaleItem": k * 10 + j, "description": f"Item {r.getrandbits(16)}",
             "item": "membership", "itemValue": _money(r, 300), "saleValue": _money(r, 300),
             "quantity": r.randint(1, 3), "discount": _money(r, 30), "idMembership": r.randint(10, 40),
             "numMembers": 1, "flReceiptOnly": False}
            for j in range(n)
        ],
        "receivables": [
            {"idReceivable": k * 10 + j, "registrationDate": _ts(r), "dueDate": _ts(r),
             "updateDate": _ts(r), "amount": _money(r, 300), "ammountPaid": _money(r, 300),
             "status": {"id": 1 + j % 2, "name": "paid" if j == 0 else "open"},
             "currentInstallment": j + 1, "totalInstallments": n,
             "paymentType": {"idPaymentType": r.randint(1, 4), "name": "credit_card"}}
            for j in range(n)
        ],
    }


def _entry(seed, k, v, refs):
    r = _rng(seed, "entries", k, v)
    member = refs["members"](r)
    return {
        "date": _ts(r), "timeZone": "America/Sao_Paulo", "idMember": member,
        "idProspect": None if member else refs["prospects"](r),
        "idEmployee": r.randint(900, 999), "idBranch": r.randint(1, 40), "entryType": "regular",
        "entryAction": r.choice(["Entry", "Exit"]), "device": f"turnstile-{r.randint(1, 60)}",
    }


def _prospect(seed, k, v, refs):
    r = _rng(seed, "prospects", k, v)
    rec = {
        "idProspect": k, "idBranch": str(r.randint(1, 40)), "branchName": f"Branch {r.randint(1, 40)}",
        "firstName": f"P{r.getrandbits(24)}", "lastName": "Prospect", "email": f"p{k}@example.com",
        "registerDate": _ts(r), "idMember": None, "conversionDate": None,
        "financiallyResponsibles": [{"name": f"Resp{k}", "cpf": f"{r.getrandbits(36):011d}",
                                     "financialResponsible": True}] if r.random() < 0.5 else None,
    }
    if r.random() < 0.25:
        rec["idMember"], rec["conversionDate"] = 1_000_000 + k, _ts(r)
    if r.random() < 0.3:
        rec.update(interests=["crossfit", "swim"], notes="hot lead", temperature="Hot")
    return rec


def _pd_dim(kind):
    def build(seed, k, v, refs):
        r = _rng(seed, kind, k, v)
        base = {"id": k, "add_time": _ts(r), "update_time": _version_ts(v)}
        if kind == "pipelines":
            base.update(name=f"Pipeline {k}", order_nr=k, active=True, deal_probability=r.random() < 0.5)
        elif kind == "stages":
            base.update(name=f"Stage {k}", pipeline_id=1 + k % 3, order_nr=k, active_flag=True,
                        deal_probability=r.randint(0, 100), rotten_flag=r.random() < 0.5, rotten_days=30)
        elif kind == "users":
            base.pop("add_time"), base.pop("update_time")
            base.update(name=f"User {k}", email=f"u{k}@x.com", active_flag=r.random() < 0.8,
                        is_admin=int(k == 1), role_id=1, timezone_name="America/Sao_Paulo",
                        created=_ts(r), modified=_version_ts(v))
        else:  # organizations
            base.update(name=f"Org {r.getrandbits(20)}", owner_id=r.randint(1, 5), address=f"Rua {k}",
                        address_locality="SP", cc_email=f"org{k}@x.com", active_flag=True,
                        people_count=r.randint(0, 50), open_deals_count=r.randint(0, 5),
                        closed_deals_count=r.randint(0, 5), won_deals_count=r.randint(0, 3),
                        lost_deals_count=r.randint(0, 3))
            if r.random() < 0.5:
                base["xyz_custom_field"] = f"org-custom-{k}"  # unknown key -> rescue
        return base
    return build


def _person(seed, k, v, refs):
    r = _rng(seed, "persons", k, v)
    emails = [{"value": f"sec{k}@x.com", "primary": False, "label": "work"},
              {"value": f"pri{k}@x.com", "primary": True, "label": "home"}]
    if r.random() < 0.3:
        emails = [{"value": f"only{k}@x.com", "primary": False, "label": "work"}]
    return {"id": k, "name": f"Person {k}", "first_name": f"P{k}", "last_name": "L",
            "org_id": refs["organizations"](r), "owner_id": r.randint(1, 5), "active_flag": True,
            "email": emails, "phone": [{"value": f"+55{r.getrandbits(30):09d}", "primary": True,
                                        "label": "cell"}],
            "add_time": _ts(r), "update_time": _version_ts(v)}


def _deal(seed, k, v, refs):
    r = _rng(seed, "deals", k, v)
    rec = {"id": k, "title": f"Deal {k}", "value": _money(r, 99999), "currency": "BRL",
           "status": r.choice(["open", "won", "lost"]), "person_id": refs["persons"](r),
           "org_id": refs["organizations"](r), "user_id": r.randint(1, 5), "pipeline_id": r.randint(1, 3),
           "stage_id": r.randint(1, 6), "probability": r.randint(0, 100), "add_time": _ts(r),
           "update_time": _version_ts(v), "activities_count": r.randint(0, 9)}
    if r.random() < 0.5:
        rec[f"abc{r.randint(0, 9)}23_custom"] = f"custom-{k}"  # unknown key -> rescue
    if r.random() < 0.05:
        rec["deleted"] = True
    return rec


def _activity(seed, k, v, refs):
    r = _rng(seed, "activities", k, v)
    rec = {"id": k, "type": r.choice(["call", "meeting", "task"]), "subject": f"Activity {k}",
           "done": r.random() < 0.5, "user_id": r.randint(1, 5), "deal_id": refs["deals"](r),
           "due_date": f"2026-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}", "add_time": _ts(r),
           "update_time": _version_ts(v)}
    if r.random() < 0.25:  # dict-where-string-expected
        rec["due_time"], rec["duration"] = {"value": "10:00"}, {"value": "01:00"}
    else:
        rec["due_time"], rec["duration"] = "09:00", "00:30"
    return rec


def _zd(kind):
    def build(seed, k, v, refs):
        r = _rng(seed, "zd_" + kind, k, v)
        base = {"id": k, "created_at": _ts(r), "updated_at": _version_ts(v)}
        if kind == "organizations":
            base.update(name=f"ZOrg {k}", domain_names=[f"z{k}.com"], group_id=r.randint(1, 3),
                        shared_tickets=False, shared_comments=True, external_id=f"ext-{k}",
                        tags=["b2b", f"t{r.randint(0, 9)}"], organization_fields={"segment": "fitness"})
        elif kind == "users":
            base.update(name=f"ZUser {k}", email=f"z{k}@x.com", phone=None,
                        role=r.choice(["end-user", "agent", "admin"]), organization_id=refs["zd_orgs"](r),
                        time_zone="UTC", locale="pt-BR", active=True, verified=r.random() < 0.5,
                        suspended=False, tags=[], user_fields={}, external_id=None, alias=None,
                        notes=None, details=None, default_group_id=r.randint(1, 3),
                        last_login_at=_ts(r))
        elif kind == "groups":
            base.update(name=f"Group {k}", description="support", default=k == 1, deleted=False)
        elif kind == "ticket_fields":
            base.update(type=r.choice(["text", "tagger", "integer"]), title=f"Field {k}", description="",
                        position=k, active=True, required=r.random() < 0.5, removable=True)
        elif kind == "ticket_forms":
            base.update(name=f"Form {k}", display_name=f"Form {k}", position=k, active=True,
                        default=k == 1, end_user_visible=True, ticket_field_ids=[1, 2, 3])
        else:  # tickets
            base.update(subject=f"Ticket {k}", description="help",
                        status=r.choice(["open", "pending", "solved", "closed"]),
                        priority=r.choice(["low", "normal", "high", None]),
                        requester_id=refs["zd_users"](r), organization_id=refs["zd_orgs"](r),
                        group_id=r.randint(1, 3),
                        via={"channel": "email", "source": {"from": f"u{k}@x.com"}}, is_public=True,
                        tags=["vip", "billing", "vip"] if r.random() < 0.5 else ["support"],
                        custom_fields=[{"id": 1, "value": f"v{k}" if r.random() < 0.7 else ""},
                                       {"id": 2, "value": None}, {"id": 3, "value": f"w{v}"}])
        return base
    return build


_BUILDERS = {
    "evo_prospects": _prospect, "evo_members": _member, "evo_sales": _sale, "evo_entries": _entry,
    "pd_pipelines": _pd_dim("pipelines"), "pd_stages": _pd_dim("stages"), "pd_users": _pd_dim("users"),
    "pd_organizations": _pd_dim("organizations"), "pd_persons": _person, "pd_deals": _deal,
    "pd_activities": _activity, "zd_organizations": _zd("organizations"), "zd_users": _zd("users"),
    "zd_groups": _zd("groups"), "zd_ticket_fields": _zd("ticket_fields"),
    "zd_ticket_forms": _zd("ticket_forms"), "zd_tickets": _zd("tickets"),
}
# Key field of each bronze payload where it is not "id". Entries are keyed
# by a hash of 7 fields and dropped when `date` is null.
_KEY_FIELD = {"evo_members": "idMember", "evo_sales": "idSale", "evo_prospects": "idProspect",
              "evo_entries": "date"}
_ENTRY_FIELDS = ("date", "idMember", "idProspect", "idEmployee", "idBranch", "device", "entryAction")


def _entity_key(name: str, rec: dict):
    if name == "evo_entries":
        return tuple(rec.get(f) for f in _ENTRY_FIELDS) if rec.get("date") else None
    return rec.get(_KEY_FIELD.get(name, "id"))


def _write_part(path: str, records: list[dict]) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    body = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records).encode()
    with open(path, "wb") as raw, gzip.GzipFile(filename="", mode="wb", fileobj=raw, mtime=0) as gz:
        gz.write(body)
    return len(body)


@dataclass
class Bronze:
    """A seeded bronze history: one base run plus optional daily runs.

    `records` is the base record budget, split over the entities of
    `sources` by `ENTITIES` shares. Each `land_day` adds one run_id
    holding ~`DAY_SHARE` of each entity's keys: new keys, late versions
    of existing keys, null-key rows and exact-duplicate entries.
    """

    root: str
    seed: int
    records: int
    sources: tuple[str, ...] = ("evo", "pipedrive", "zendesk")
    keys: dict[tuple[str, str], set] = field(default_factory=dict)  # (table, scope) -> keys
    versions: dict[tuple[str, str], dict] = field(default_factory=dict)
    null_key_drops: dict[str, int] = field(default_factory=dict)
    landed: list[dict] = field(default_factory=list)  # per run: records, bytes
    days: int = 0
    _entry_cache: dict[int, dict] = field(default_factory=dict)

    def entities(self):
        return [e for e in ENTITIES if e[1] in self.sources]

    def _size(self, name: str, share: float) -> int:
        return _FIXED_SIZE.get(name) or max(8, int(self.records * share))

    def _picker(self, table: str, scope: str, null_share: float = 0.0):
        pool = sorted(self.keys.get((table, scope), ()))

        def pick(r: random.Random):
            if not pool or r.random() < null_share:
                return None
            return pool[r.randrange(len(pool))]
        return pick

    def _refs(self, scope: str) -> dict:
        return {
            "members": self._picker("evo_members", "", 0.25),
            "prospects": self._picker("evo_prospects", ""),
            "organizations": self._picker("pd_organizations", scope),
            "persons": self._picker("pd_persons", scope),
            "deals": self._picker("pd_deals", scope),
            "zd_orgs": self._picker("zd_organizations", ""),
            "zd_users": self._picker("zd_users", ""),
        }

    def _run(self, run_id: str, ingestion_date: str, plan) -> dict:
        """Write one run. `plan(name, scope, share)` lists the entity's
        records in this run as (key, kind) pairs; kind is "new",
        "version" (a later version of the key), "dup" (an exact copy of
        entry row `key`) or None (a null-key row)."""
        stats = {"run_id": run_id, "records": 0, "bytes": 0}
        for name, source, entity, scoped, share in self.entities():
            for scope in (SCOPES if scoped else ("",)):
                existing = self.keys.setdefault((name, scope), set())
                vers = self.versions.setdefault((name, scope), {})
                refs = self._refs(scope)
                build = _BUILDERS[name]
                recs = []
                for k, new in plan(name, scope, share):
                    if new is None:  # null-key row, dropped by P7
                        nk = {"date": None, "idMember": 1, "idBranch": 1} if name == "evo_entries" \
                            else {_KEY_FIELD.get(name, "id"): None, "name": "Ghost"}
                        recs.append(nk)
                        self.null_key_drops[name] = self.null_key_drops.get(name, 0) + 1
                        continue
                    v = vers.get(k, -1) + 1 if new == "version" else 0
                    if new == "dup":  # exact duplicate of an earlier entry row
                        rec = self._entry_cache[k]
                    else:
                        rec = build(self.seed, k, v, refs)
                        vers[k] = v
                    if name == "evo_entries":
                        self._entry_cache[k] = rec
                        existing.add(_entity_key(name, rec))
                    else:
                        existing.add(k)
                    recs.append(rec)
                parts = [f"bronze/{source}"] + ([f"scope={scope}"] if scoped else []) + [
                    f"entity={entity}", f"ingestion_date={ingestion_date}", f"run_id={run_id}",
                    "part-00000.jsonl.gz"]
                nbytes = _write_part(os.path.join(self.root, *parts), recs)
                stats["records"] += len(recs)
                stats["bytes"] += nbytes
        self.landed.append(stats)
        return stats

    def land_base(self) -> dict:
        """The base run: every entity's keys 1..n, one version each, plus
        ~0.5% null-key rows and ~5% exact-duplicate entries."""
        def plan(name, scope, share):
            n = self._size(name, share)
            rows = [(k, "new") for k in range(1, n + 1)]
            if name in _FIXED_SIZE:
                return rows
            r = _rng(self.seed, "base-plan", name, scope)
            if name == "evo_entries":
                rows += [(r.randint(1, n), "dup") for _ in range(n // 20)]
            rows += [(None, None)] * max(1, n // 200)
            return rows
        return self._run("20260801T000000", "2026-08-01", plan)

    def land_day(self) -> dict:
        """One incremental run: ~DAY_SHARE of each entity's key count, split
        into new keys, late versions, exact-duplicate entries and null keys."""
        self.days += 1
        day = self.days

        def plan(name, scope, share):
            if name in _FIXED_SIZE:
                return []
            vers = self.versions[(name, scope)]
            r = _rng(self.seed, "day-plan", day, name, scope)
            n = max(4, int(len(vers) * DAY_SHARE))
            top = max(vers)
            rows = [(top + 1 + j, "new") for j in range(n // 2)]
            if name == "evo_entries":
                rows += [(r.randint(1, top), "dup") for _ in range(n - n // 2)]
            else:
                rows += [(k, "version") for k in r.sample(sorted(vers), min(len(vers), n - n // 2))]
            rows.append((None, None))
            return rows
        return self._run(f"202608{1 + day:02d}T000000", f"2026-08-{1 + day:02d}", plan)

    def expected(self) -> dict:
        """Post-run state: distinct keys per CORE table (scoped tables
        count (key, scope)), child-table keys, and null-key drops."""
        tables = {}
        for name, _, _, scoped, _ in self.entities():
            tables[name] = sum(len(self.keys.get((name, s), ())) for s in (SCOPES if scoped else ("",)))
        seed = self.seed
        if "evo" in self.sources:
            members = self.keys[("evo_members", "")]
            sales = self.keys[("evo_sales", "")]
            tables["evo_member_memberships"] = sum(_n_memberships(seed, k) for k in members)
            tables["evo_member_contacts"] = 2 * len(members)
            tables["evo_sale_items"] = tables["evo_receivables"] = sum(
                _n_sale_lines(seed, k) for k in sales)
        return {"tables": tables, "null_key_drops": dict(self.null_key_drops)}
