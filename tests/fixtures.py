"""Reference-shaped bronze fixtures per FIXTURES.md.

Deterministic (seeded) JSONL generators producing the dirty-data
features the engine must survive: alternate keys, flat-or-nested
variants, unknown extra keys, duplicate business keys across runs with
newer updateDate, dict-where-string-expected, duplicate tags, empty
custom-field values, exact-duplicate entry rows.
"""

from __future__ import annotations

import gzip
import json
import os
import random


def _write_part(root: str, source: str, entity: str, run_id: str, records: list[dict],
                *, scope: str | None = None, ingestion_date: str = "2026-08-01") -> None:
    parts = [f"bronze/{source}"]
    if scope:
        parts.append(f"scope={scope}")
    parts.append(f"entity={entity}")
    parts.append(f"ingestion_date={ingestion_date}")
    parts.append(f"run_id={run_id}")
    d = os.path.join(root, *parts)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-00000.jsonl.gz")
    with gzip.open(path, "wt") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _member(rng: random.Random, i: int, version: int) -> dict:
    rec = {
        "idMember": i,
        "idBranch": rng.randint(1, 5),
        "branchName": f"Branch {i % 5}",
        "firstName": f"First{i}",
        "lastName": f"Last{i}",
        "gender": rng.choice(["M", "F"]),
        "birthDate": "1990-03-14",
        "status": rng.choice(["Active", "Inactive"]),
        "membershipStatus": rng.choice(["active", "expired"]),
        "penalized": rng.choice([True, False, "true", "false"]),
        "totalFitCoins": f"{rng.randint(0, 500)}.50",
        "registerDate": "2024-01-01T10:00:00Z",
        "updateDate": f"2026-0{version + 1}-01T00:00:00Z",
        "accessBlocked": False,
        "contacts": [
            {"idPhone": i * 10 + 1, "idContactType": 1, "typeDescription": "cell",
             "ddi": "55", "description": f"+55119{i:07d}"},
            {"idPhone": i * 10 + 2, "idContactType": 4, "typeDescription": "email",
             "ddi": None, "description": f"m{i}@example.com"},
        ],
        "memberships": [
            {
                "idMemberMembership": i * 100 + m,
                "idMembership": 10 + m,
                "membershipName": f"Plan {m}",
                "idSale": i * 1000 + m,
                "saleDate": "2024-02-01T00:00:00Z",
                "startDate": "2024-02-01T00:00:00Z",
                "endDate": "2025-02-01T00:00:00Z",
                "membershipStatus": "active" if version else "expired",
                "valueNextMonth": f"{99 + version}.90",
                "originalValue": "99.90",
                "numMembers": 1,
                "flAllowLocker": True,
                "signedTerms": True,
                "limitless": False,
                "weeklyLimit": 3,
                "concludedSessions": 5,
                "pendingSessions": 2,
            }
            for m in range(rng.randint(0, 3))
        ],
    }
    # Alternate-key variants (FIXTURES.md: ~half use "number"):
    if i % 2 == 0:
        rec["addressNumber"] = str(100 + i)
    else:
        rec["number"] = str(100 + i)
    if i % 3 == 0:
        rec["photoUrl"] = f"https://img/{i}.jpg"
    else:
        rec["photo"] = f"https://img/{i}.png"
    # flat-or-nested employee consultant:
    if i % 2 == 0:
        rec["idEmployeeConsultant"] = 900 + i % 7
    else:
        rec["employeeConsultant"] = {"idEmployee": 900 + i % 7, "name": f"Emp{i % 7}"}
    if i % 10 == 0:
        rec["idMember"] = i  # keep key; drop some nullable fields instead
        rec.pop("birthDate")
    return rec


def gen_members(root: str, *, n: int = 60, seed: int = 7) -> dict:
    """Two runs; run2 re-sends ~40% of keys with newer updateDate."""
    rng = random.Random(seed)
    run1 = [_member(rng, i, 0) for i in range(n)]
    overlap = [i for i in range(n) if i % 5 in (0, 1)]
    run2 = [_member(rng, i, 1) for i in overlap] + [_member(rng, n + j, 1) for j in range(10)]
    # one null-key record that must be dropped (P7):
    run2.append({"idMember": None, "firstName": "Ghost"})
    _write_part(root, "evo", "members", "20260801T000000", run1)
    _write_part(root, "evo", "members", "20260802T000000", run2)
    return {"n_keys": n + 10, "overlap": overlap}


def gen_sales(root: str, *, n: int = 50, seed: int = 11) -> dict:
    rng = random.Random(seed)

    def sale(i: int, version: int) -> dict:
        return {
            "idSale": i,
            "idMember": i % 30 if i % 4 else None,
            "idProspect": None if i % 4 else i % 20,
            "idEmployeeSale": 900 + i % 5,
            "nameEmployeeSale": f"Emp{i % 5}",
            "idBranch": 1 + i % 5,
            "saleDate": f"2025-{1 + i % 12:02d}-15T12:00:00Z",
            "updateDate": f"2026-0{version + 1}-01T00:00:00Z",
            "saleSource": i % 3,
            "removed": i % 10 == 0,
            "saleItens": [
                {
                    "idSaleItem": i * 10 + k,
                    "description": f"Item {k}",
                    "item": "membership",
                    "itemValue": "120.00",
                    "saleValue": f"{120 - 10 * k}.00",
                    "quantity": 1,
                    "discount": f"{10 * k}.00",
                    "idMembership": 10 + k,
                    "numMembers": 1,
                    "flReceiptOnly": False,
                }
                for k in range(1 + i % 3)
            ],
            "receivables": [
                {
                    "idReceivable": i * 10 + k,
                    "registrationDate": "2025-01-15T12:00:00Z",
                    "dueDate": f"2025-{1 + k:02d}-15T00:00:00Z",
                    "updateDate": "2025-01-15T12:00:00Z",
                    "amount": "120.00",
                    "ammountPaid": "120.00" if k == 0 else "0.00",
                    "status": {"id": 1 if k == 0 else 2, "name": "paid" if k == 0 else "open"},
                    "currentInstallment": k + 1,
                    "totalInstallments": 1 + i % 3,
                    "paymentType": {"idPaymentType": 2, "name": "credit_card"},
                }
                for k in range(1 + i % 3)
            ],
        }

    run1 = [sale(i, 0) for i in range(n)]
    run2 = [sale(i, 1) for i in range(0, n, 3)]
    _write_part(root, "evo", "sales", "20260801T000000", run1)
    _write_part(root, "evo", "sales", "20260802T000000", run2)
    return {"n_keys": n}


def gen_entries(root: str, *, n: int = 400, seed: int = 13) -> dict:
    rng = random.Random(seed)
    recs = []
    for i in range(n):
        year = 2020 + i % 6
        rec = {
            "date": f"{year}-{1 + i % 12:02d}-{1 + i % 28:02d}T0{i % 10}:00:00Z",
            "timeZone": "America/Sao_Paulo",
            "idMember": i % 50 if i % 3 else None,
            "idProspect": None if i % 3 else i % 20,
            "idEmployee": 900 + i % 4,
            "idBranch": 1 + i % 5,
            "entryType": "regular",
            "entryAction": "Entry" if i % 2 else "Exit",
            "device": f"turnstile-{i % 3}",
        }
        recs.append(rec)
        if i % 20 == 0:
            recs.append(dict(rec))  # exact duplicate → same 7-field hash
    recs.append({"date": None, "idMember": 1, "idBranch": 1})  # dropped (loader:233-235)
    _write_part(root, "evo", "entries", "20260801T000000", recs)
    n_unique = len({(r["date"], r.get("idMember"), r.get("idProspect"), r.get("idEmployee"),
                     r.get("idBranch"), r.get("device"), r.get("entryAction"))
                    for r in recs if r.get("date")})
    return {"n_unique": n_unique}


def gen_prospects(root: str, *, n: int = 40, seed: int = 17, branch_as_string: bool = False) -> dict:
    """`branch_as_string` lands idBranch as a JSON string, as the EVO
    prospects API does, while members/sales/entries land a number."""
    recs = []
    for i in range(n):
        rec = {
            "idProspect": i,
            "idBranch": str(1 + i % 5) if branch_as_string else 1 + i % 5,
            "branchName": f"Branch {i % 5}",
            "firstName": f"P{i}",
            "lastName": "Prospect",
            "email": f"p{i}@example.com",
            "registerDate": "2026-01-01T00:00:00Z",
            "idMember": 1000 + i if i % 4 == 0 else None,
            "conversionDate": "2026-02-01T00:00:00Z" if i % 4 == 0 else None,
            "financiallyResponsibles": [
                {"name": f"Resp{i}", "cpf": f"{i:011d}", "financialResponsible": True}
            ] if i % 2 == 0 else None,
        }
        if i % 3 == 0:
            rec["interests"] = ["crossfit", "swim"]
            rec["notes"] = "hot lead"
            rec["temperature"] = "Hot"
        recs.append(rec)
    _write_part(root, "evo", "prospects", "20260801T000000", recs)
    return {"n": n, "converted": [i for i in range(n) if i % 4 == 0]}


def gen_deals(root: str, *, n: int = 40, seed: int = 19) -> dict:
    """Two scopes with overlapping ids — (id, scope) keying (ADR-003)."""
    def deal(i: int, scope: str, version: int) -> dict:
        rec = {
            "id": i,
            "title": f"Deal {i} {scope}",
            "value": f"{1000 + i}.50",
            "currency": "BRL",
            "status": ["open", "won", "lost"][i % 3],
            "person_id": i % 20,
            "org_id": i % 10,
            "user_id": 1 + i % 5,
            "pipeline_id": 1 + i % 2,
            "stage_id": 1 + i % 6,
            "probability": (i * 7) % 100,
            "add_time": "2026-01-01T00:00:00Z",
            "update_time": f"2026-0{version + 1}-15T00:00:00Z",
            "activities_count": i % 9,
        }
        if i % 2 == 0:
            rec[f"abc{i % 5}23_custom"] = f"custom-{i}"  # unknown key → rescue
        if i % 15 == 0:
            rec["deleted"] = True
        return rec

    for scope in ("comercial", "expansao"):
        run1 = [deal(i, scope, 0) for i in range(n)]
        run2 = [deal(i, scope, 1) for i in range(0, n, 4)]
        _write_part(root, "pipedrive", "deals", "20260801T000000", run1, scope=scope)
        _write_part(root, "pipedrive", "deals", "20260802T000000", run2, scope=scope)
    return {"n": n}


def gen_persons(root: str, *, n: int = 30, seed: int = 23) -> dict:
    def person(i: int, scope: str) -> dict:
        emails = [
            {"value": f"sec{i}@x.com", "primary": False, "label": "work"},
            {"value": f"pri{i}@x.com", "primary": True, "label": "home"},
        ]
        if i % 3 == 0:
            emails = [{"value": f"only{i}@x.com", "primary": False, "label": "work"}]
        return {
            "id": i,
            "name": f"Person {i}",
            "first_name": f"P{i}",
            "last_name": "L",
            "org_id": i % 10,
            "owner_id": 1 + i % 5,
            "active_flag": True,
            "email": emails,
            "phone": [{"value": f"+55{i:09d}", "primary": True, "label": "cell"}],
            "add_time": "2026-01-01T00:00:00Z",
            "update_time": "2026-02-01T00:00:00Z",
        }

    for scope in ("comercial", "expansao"):
        _write_part(root, "pipedrive", "persons", "20260801T000000",
                    [person(i, scope) for i in range(n)], scope=scope)
    return {"n": n}


def gen_activities(root: str, *, n: int = 30, seed: int = 29) -> dict:
    def act(i: int) -> dict:
        rec = {
            "id": i,
            "type": ["call", "meeting", "task"][i % 3],
            "subject": f"Activity {i}",
            "done": i % 2 == 0,
            "user_id": 1 + i % 5,
            "deal_id": i % 20,
            "due_date": "2026-03-01",
            "add_time": "2026-01-01T00:00:00Z",
            "update_time": "2026-02-01T00:00:00Z",
        }
        # dict-where-string-expected (exercises _safe_text, :890-895):
        if i % 4 == 0:
            rec["due_time"] = {"value": "10:00"}
            rec["duration"] = {"value": "01:00"}
        else:
            rec["due_time"] = "09:00"
            rec["duration"] = "00:30"
        return rec

    _write_part(root, "pipedrive", "activities", "20260801T000000",
                [act(i) for i in range(n)], scope="comercial")
    return {"n": n}


def gen_tickets(root: str, *, n: int = 40, seed: int = 31) -> dict:
    def ticket(i: int, version: int) -> dict:
        return {
            "id": i,
            "subject": f"Ticket {i}",
            "description": "help",
            "status": ["open", "pending", "solved", "closed"][i % 4],
            "priority": ["low", "normal", "high", None][i % 4],
            "requester_id": 100 + i % 10,
            "organization_id": i % 5,
            "group_id": 1 + i % 3,
            "via": {"channel": "email", "source": {"from": f"u{i}@x.com"}},
            "is_public": True,
            "tags": ["vip", "billing", "vip"] if i % 2 else ["support"],  # dup tag
            "custom_fields": [
                {"id": 1, "value": f"v{i}" if i % 3 else ""},  # empty filtered
                {"id": 2, "value": None},                      # null filtered
                {"id": 3, "value": f"w{i + version}"},
            ],
            "created_at": "2026-01-01T00:00:00Z",
            "updated_at": f"2026-0{version + 1}-01T00:00:00Z",
        }

    run1 = [ticket(i, 0) for i in range(n)]
    run2 = [ticket(i, 1) for i in range(0, n, 5)]
    _write_part(root, "zendesk", "tickets", "20260801T000000", run1)
    _write_part(root, "zendesk", "tickets", "20260802T000000", run2)
    return {"n": n}


# ---------------------------------------------------------------------------
# Dimension fixtures (Pipedrive + Zendesk) — minimal but spec-complete
# ---------------------------------------------------------------------------


def gen_pd_dims(root: str) -> None:
    """pipelines, stages, users, organizations — both scopes (ADR-003)."""
    for scope in ("comercial", "expansao"):
        pipelines = [
            {"id": p, "name": f"Pipeline {p}", "order_nr": p, "active": True,
             "deal_probability": p % 2 == 0,
             "add_time": "2025-01-01T00:00:00Z", "update_time": "2026-01-01T00:00:00Z"}
            for p in range(1, 4)
        ]
        stages = [
            {"id": s, "name": f"Stage {s}", "pipeline_id": 1 + s % 3,
             "order_nr": s, "active_flag": True, "deal_probability": s * 10,
             "rotten_flag": s % 2 == 0, "rotten_days": 30,
             "add_time": "2025-01-01T00:00:00Z", "update_time": "2026-01-01T00:00:00Z"}
            for s in range(1, 7)
        ]
        users = [
            {"id": u, "name": f"User {u}", "email": f"u{u}@x.com",
             "active_flag": u % 5 != 0, "is_admin": 1 if u == 1 else 0,
             "role_id": 1, "timezone_name": "America/Sao_Paulo",
             "created": "2025-01-01T00:00:00Z", "modified": "2026-01-01T00:00:00Z"}
            for u in range(1, 6)
        ]
        orgs = [
            {"id": o, "name": f"Org {o}", "owner_id": 1 + o % 5,
             "address": f"Rua {o}", "address_locality": "SP",
             "cc_email": f"org{o}@x.com", "active_flag": True,
             "people_count": o % 7, "open_deals_count": o % 3,
             "closed_deals_count": o % 4, "won_deals_count": o % 2,
             "lost_deals_count": o % 2,
             "add_time": "2025-01-01T00:00:00Z", "update_time": "2026-01-01T00:00:00Z",
             **({"xyz_custom_field": f"org-custom-{o}"} if o % 2 == 0 else {})}
            for o in range(10)
        ]
        for entity, recs in (
            ("pipelines", pipelines), ("stages", stages),
            ("users", users), ("organizations", orgs),
        ):
            _write_part(root, "pipedrive", entity, "20260801T000000", recs, scope=scope)


def gen_zd_dims(root: str) -> None:
    """organizations, users, groups, ticket_fields, ticket_forms."""
    orgs = [
        {"id": o, "name": f"ZOrg {o}", "domain_names": [f"z{o}.com"],
         "group_id": 1 + o % 3, "shared_tickets": False, "shared_comments": True,
         "external_id": f"ext-{o}", "tags": ["b2b", f"t{o}"],
         "organization_fields": {"segment": "fitness"},
         "created_at": "2025-01-01T00:00:00Z", "updated_at": "2026-01-01T00:00:00Z"}
        for o in range(8)
    ]
    users = [
        {"id": u, "name": f"ZUser {u}", "email": f"z{u}@x.com", "phone": None,
         "role": ["end-user", "agent", "admin"][u % 3], "organization_id": u % 8,
         "time_zone": "UTC", "locale": "pt-BR", "active": True,
         "verified": u % 2 == 0, "suspended": False, "tags": [],
         "user_fields": {}, "external_id": None, "alias": None,
         "notes": None, "details": None, "default_group_id": 1 + u % 3,
         "created_at": "2025-01-01T00:00:00Z", "updated_at": "2026-01-01T00:00:00Z",
         "last_login_at": "2026-06-01T00:00:00Z"}
        for u in range(12)
    ]
    groups = [
        {"id": g, "name": f"Group {g}", "description": "support",
         "default": g == 1, "deleted": False,
         "created_at": "2025-01-01T00:00:00Z", "updated_at": "2026-01-01T00:00:00Z"}
        for g in range(1, 4)
    ]
    fields = [
        {"id": f, "type": ["text", "tagger", "integer"][f % 3], "title": f"Field {f}",
         "description": "", "position": f, "active": True, "required": f % 2 == 0,
         "removable": True,
         "created_at": "2025-01-01T00:00:00Z", "updated_at": "2026-01-01T00:00:00Z"}
        for f in range(1, 5)
    ]
    forms = [
        {"id": f, "name": f"Form {f}", "display_name": f"Form {f}", "position": f,
         "active": True, "default": f == 1, "end_user_visible": True,
         "ticket_field_ids": [1, 2, 3],
         "created_at": "2025-01-01T00:00:00Z", "updated_at": "2026-01-01T00:00:00Z"}
        for f in range(1, 3)
    ]
    for entity, recs in (
        ("organizations", orgs), ("users", users), ("groups", groups),
        ("ticket_fields", fields), ("ticket_forms", forms),
    ):
        _write_part(root, "zendesk", entity, "20260801T000000", recs)
