"""Incremental per-conversation replay core — the exact event-model fold.

Shared by the batch Arrow fold stage (operators/summarize.py) and the
JSON renderer (presentation.py): one ``feed`` of ordered events mutates a
small per-conversation state and yields summary/error rows.

Semantics are a port (not a copy) of the reference's composed stream
stages — ``compose`` (bll/src/summary_logic.rs:74-139), ``means_of_death``
(:144-170), ``kills`` (:177-203),
``player_ids_and_nicknames_resolutions`` (:210-287),
``game_reported_scores`` (:290-310) and ``summarize`` (:314-415) — with
every edge case pinned by the ported unit fixtures in
tests/test_summarize.py.
"""

from __future__ import annotations

from typing import Any

WORLD = "<world>"

DEFAULT_OPS = frozenset(
    {"kills", "means_of_death", "player_resolutions", "reported_scores"}
)


def new_state() -> dict[str, Any]:
    return {
        "in_game": False,      # compose() booleans (rs:88-89)
        "graceful": False,
        "match_seq": 0,        # effective InitGames seen
        "registry": {},        # id -> nick-or-None (rs:215)
        "cur": None,           # per-match accumulator (rs:316)
    }


def _fresh_match() -> dict[str, Any]:
    return {
        "total_kills": 0,
        "players": set(),
        "kills": {},
        "means": None,
        "scores": None,
        "disconnected": None,
    }


def render_summary(conv_id, match_id, cur, graceful) -> dict[str, Any]:
    """BTreeMap/Set parity: every map/set renders name-sorted
    (model/src/report.rs:18-20)."""
    return {
        "conv_id": conv_id,
        "match_id": match_id,
        "total_kills": cur["total_kills"],
        "players": sorted(cur["players"]),
        "kills": [{"player": k, "frags": v} for k, v in sorted(cur["kills"].items())],
        "kills_by_means": None
        if cur["means"] is None
        else [{"mean": k, "count": v} for k, v in sorted(cur["means"].items())],
        "game_reported_scores": None
        if cur["scores"] is None
        else [{"player": k, "frags": v} for k, v in sorted(cur["scores"].items())],
        "disconnected_players": cur["disconnected"],
        "graceful": graceful,
        "error": None,
    }


def replay_events(
    state: dict[str, Any],
    conv_id: str,
    events,
    ops: frozenset[str] = DEFAULT_OPS,
    stop_on_violations: bool = False,
) -> list[dict[str, Any]]:
    """Feed ordered event tuples through the fold; returns output rows.

    ``events`` yields tuples ``(turn_idx, event_type, client_id, name,
    killer_id, victim_id, killer_name, victim_name, reason_name, frags)``
    in turn order.  ``state`` is mutated in place (the fold stage carries
    it across the Arrow batches of one conversation).
    """
    means_on = "means_of_death" in ops
    players_on = "player_resolutions" in ops
    scores_on = "reported_scores" in ops

    registry = state["registry"]
    out: list[dict[str, Any]] = []

    def emit_error(turn_idx, msg):
        out.append(
            {
                "conv_id": conv_id,
                "match_id": state["match_seq"],
                "total_kills": None,
                "players": None,
                "kills": None,
                "kills_by_means": None,
                "game_reported_scores": None,
                "disconnected_players": None,
                "graceful": None,
                "error": f"Event #{turn_idx}: {msg}",
            }
        )

    def emit_violation(turn_idx, violation):
        emit_error(turn_idx, f"violated the event model: {violation}")  # rs:405-406

    for (turn_idx, et, client_id, name, killer_id, victim_id,
         killer_name, victim_name, reason_name, frags) in events:
        if et is None:
            continue  # in-band parse errors don't touch state (rs:127-131)
        cur = state["cur"]

        if et == "InitGame":
            if state["in_game"]:
                emit_violation(turn_idx, "DoubleInit")  # rs:96-103
            else:
                state["in_game"] = True
                state["graceful"] = False
                state["match_seq"] += 1
                registry.clear()  # rs:244-247
                if cur is not None:  # rs:325-336 (unreachable via compose)
                    emit_error(
                        turn_idx,
                        "Two `InitGame` events received before a `ShutdownGame`",
                    )
                state["cur"] = _fresh_match()
        elif et == "Exit":
            if state["in_game"]:
                state["graceful"] = True  # swallowed (rs:105-112)
            else:
                emit_violation(turn_idx, "GameNotStarted")
        elif et == "ShutdownGame":
            if state["in_game"]:
                state["in_game"] = False
                if cur is None:  # rs:397-403
                    emit_error(turn_idx, "Game ended, but it was never started")
                else:
                    out.append(
                        render_summary(conv_id, state["match_seq"], cur, state["graceful"])
                    )
                    state["cur"] = None
            else:
                emit_violation(turn_idx, "GameNotStarted")
        elif et == "Kill":
            if means_on and cur is not None:  # rs:158-166 + :362-368
                if cur["means"] is None:
                    cur["means"] = {}
                cur["means"][reason_name] = cur["means"].get(reason_name, 0) + 1
            inc = killer_name != WORLD  # rs:190-196
            fid = int(killer_id) if inc else int(victim_id)
            fname = killer_name if inc else victim_name
            if players_on and stop_on_violations:
                # discrepancy gate (rs:224-249): unregistered id -> frag
                # event silently dropped; name mismatch -> violation
                if fid not in registry:
                    continue
                if registry[fid] != fname:
                    local = registry[fid] if registry[fid] is not None else "NONE"
                    emit_violation(
                        turn_idx,
                        f"DiscrepantPlayerName {{ id: {fid}, local_name: "
                        f'"{local}", game_name: "{fname}" }}',
                    )
                    continue
            if cur is not None:  # rs:370-388
                cur["total_kills"] += 1
                cur["players"].add(fname)
                cur["kills"][fname] = cur["kills"].get(fname, 0) + (1 if inc else -1)
        elif et == "ClientConnect" and players_on:
            had = int(client_id) in registry
            registry[int(client_id)] = None  # insert replaces (rs:261-265)
            if had:
                emit_violation(turn_idx, "DoubleConnect")
        elif et == "ClientUserinfoChanged" and players_on:
            cid = int(client_id)
            if cid not in registry:  # rs:270
                emit_violation(
                    turn_idx, f'ClientNotConnected {{ id: {cid}, name: "{name}" }}'
                )
            else:
                old = registry[cid]
                registry[cid] = name
                if old is None:
                    # AddPlayer (rs:273, :338-342)
                    if cur is not None:
                        if name in cur["players"]:
                            emit_error(
                                turn_idx,
                                f'Player id: {cid}, name: "{name}" is already registered',
                            )
                        else:
                            cur["players"].add(name)
                elif cur is not None:
                    # RenamePlayer (rs:272, :344-351)
                    cur["players"].discard(old)
                    cur["players"].add(name)
                    if old in cur["kills"]:
                        cur["kills"][name] = cur["kills"].pop(old)
        elif et == "ClientDisconnect" and players_on:
            cid = int(client_id)
            if cid not in registry:  # rs:279
                emit_violation(
                    turn_idx, f'ClientNotConnected {{ id: {cid}, name: "<unknown>" }}'
                )
            else:
                dname = registry.pop(cid)
                dname = dname if dname is not None else "NONE"
                # DeletePlayer (rs:276-280, :353-360)
                if cur is not None:
                    if dname in cur["kills"]:
                        if cur["disconnected"] is None:
                            cur["disconnected"] = []
                        cur["disconnected"].append(
                            {"id": cid, "name": dname, "frags": cur["kills"].pop(dname)}
                        )
                    if dname in cur["players"]:
                        cur["players"].discard(dname)
                    else:
                        emit_error(
                            turn_idx,
                            f'Player id: {cid}, name: "{dname}" was not registered',
                        )
        elif et == "Score" and scores_on:
            if cur is not None:  # rs:390-395 upsert
                if cur["scores"] is None:
                    cur["scores"] = {}
                cur["scores"][name] = int(frags)
        # any other surviving game event is ignored by summarize (rs:408-411)

    return out
