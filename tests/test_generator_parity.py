"""Per-behavior parity pins against the reference simulator
(src/bronze_generator.py) — VERDICT r1 "What's wrong" #4 / "Next round"
#4. Each test documents ONE reference rule and exercises the repo
implementation against it, so a future drift reopens a named failure,
not a silent divergence.
"""

from __future__ import annotations

from erathia_market_etl_spark.config import SimulationConfig
from erathia_market_etl_spark.generator.bronze import calendar_rows
from erathia_market_etl_spark.generator.definitions import customers, towns
from erathia_market_etl_spark.generator.simulate import (
    _TIER_ODDS,
    MarketSimulator,
)


def _sim(seed=42, **kw) -> MarketSimulator:
    cfg = SimulationConfig()
    cal = calendar_rows(cfg)
    return MarketSimulator(
        [r["date_key"] for r in cal], [k for k, _, _ in towns()],
        seed=seed, **kw,
    )


class _ScriptedRng:
    """Deterministic stand-in for random.Random: plays back scripted
    answers per method so a single buy/sell path can be steered."""

    def __init__(self, **script):
        self.script = {k: list(v) for k, v in script.items()}

    def _next(self, name, default):
        vals = self.script.get(name)
        return vals.pop(0) if vals else default

    def choices(self, population, weights=None, *, cum_weights=None, k=1):
        return [self._next("choices", population[0])]

    def choice(self, seq):
        want = self._next("choice", None)
        return want if want in seq else seq[0]

    def uniform(self, a, b):
        return self._next("uniform", (a + b) / 2)

    def randint(self, a, b):
        return int(self._next("randint", a))


# -- initial state (ref Agent.__init__:153) ---------------------------------

def test_agents_start_with_zero_gold():
    sim = _sim()
    assert all(a.gold == 0.0 for a in sim.agents)
    assert all(not a.inventory for a in sim.agents)


# -- tier odds (ref choose_product_tier_to_buy:168-183) ---------------------

def test_tier_odds_tables_match_reference():
    assert _TIER_ODDS["vip"] == (0.70, 0.25, 0.045, 0.005)
    assert _TIER_ODDS["high_income"] == (0.85, 0.13, 0.019, 0.001)
    assert _TIER_ODDS["mid_income"] == (0.95, 0.049, 0.001, 0.0)
    assert _TIER_ODDS["low_income"] == (0.9999, 0.0, 0.0, 0.0001)


def test_buyer_class_is_income_banded_not_wealth_banded():
    sim = _sim()
    # class must not change with current gold — only segment/base_income
    vip = next(a for a in sim.agents if a.spec.segment == "VIP")
    rich = next(a for a in sim.agents if a.spec.segment != "VIP"
                and a.spec.base_income > 100)
    mid = next(a for a in sim.agents if 20 < a.spec.base_income <= 100)
    low = next(a for a in sim.agents if a.spec.base_income <= 20)
    for agent, cls in ((vip, "vip"), (rich, "high_income"),
                       (mid, "mid_income"), (low, "low_income")):
        for gold in (0.0, 1e9):
            agent.gold = gold
            seen = set()
            # exhaust the weighted draw across many rng states
            for s in range(40):
                sim.rng = __import__("random").Random(s)
                tier = sim._pick_tier(agent)
                seen.add(tier)
            agent_weights = _TIER_ODDS[cls]
            possible = {t for t, w in zip(("low", "mid", "high", "relic"),
                                          agent_weights) if w > 0}
            assert seen <= possible


# -- pools (ref _get_product_tiers:247-255) ---------------------------------

def test_low_pool_is_all_resources_except_gold():
    sim = _sim()
    resources = {p.key for p in sim.products.values()
                 if p.category_name == "Resources" and p.name != "Gold"}
    assert set(sim._pools["low"]) == resources  # Mid-tier resources INCLUDED
    gold_key = next(p.key for p in sim.products.values() if p.name == "Gold")
    assert all(gold_key not in pool for pool in sim._pools.values())


def test_mid_pool_is_treasure_and_minor_artifacts_only():
    sim = _sim()
    mid = {sim.products[k].tier_level for k in sim._pools["mid"]}
    assert mid == {"Treasure", "Minor"}
    assert all(sim.products[k].category_name == "Artifacts"
               for k in sim._pools["mid"])


# -- buy edge rules (ref execute_buy_transaction:257-318) -------------------

def test_affordability_filter_is_full_price():
    sim = _sim()
    a = sim.agents[0]
    cheapest_low = min(sim.prices[k] for k in sim._pools["low"])
    a.gold = cheapest_low * 0.5  # can afford 10% of it, but NOT full price
    a.inventory.clear()
    assert sim._try_buy(a) is None  # ref filters at full price, no pool


def test_downgraded_buy_charges_entire_remaining_gold():
    sim = _sim()
    a = next(x for x in sim.agents if x.spec.segment == "VIP")
    key = sim._pools["low"][0]
    price = sim.prices[key]
    a.gold = price * 7.7  # affords the unit price, not a 100+ bulk buy
    sim.rng = _ScriptedRng(
        choices=["low"], choice=[key], randint=[500],  # qty 500 >> affordable
    )
    before = a.gold
    t = sim._try_buy(a)
    assert t is not None
    assert t.gold_total == before          # entire gold, ref :295
    assert a.gold == 0.0
    assert t.quantity == round(before / price, 2)


def test_artifact_never_partial_bought():
    sim = _sim()
    a = sim.agents[0]
    key = sim._pools["relic"][0]
    # just enough for the full-price filter: artifact buys are all-or-
    # nothing — quantity is always exactly 1, never a downgraded fraction
    a.gold = sim.prices[key] + 0.5
    sim.rng = _ScriptedRng(choices=["relic"], choice=[key])
    t = sim._try_buy(a)
    assert t is not None and t.quantity == 1.0


def test_failed_artifact_attempt_latches_inventory_nonempty():
    """Ref :278 probes inventory[key] on a defaultdict — the probe
    inserts a 0.0 entry even when the buy then fails."""
    sim = _sim()
    a = sim.agents[0]
    key = sim._pools["relic"][0]
    sim.artifact_pool[key] = 0  # globally exhausted
    a.gold = sim.prices[key] * 2
    a.inventory.clear()
    sim.rng = _ScriptedRng(choices=["relic"], choice=[key])
    assert sim._try_buy(a) is None
    assert key in a.inventory and a.inventory[key] == 0.0
    assert bool(a.inventory)  # decision odds now see "has inventory"


# -- sell edge rules (ref choose_resource_to_sell:196-210) ------------------

def test_dust_sale_refused_not_forced():
    sim = _sim()
    a = sim.agents[0]
    key = sim._pools["low"][0]
    a.inventory[key] = 0.2  # > 0.1 so it is sellable in principle
    sim.rng = _ScriptedRng(choice=[key], uniform=[0.1])  # 0.2*0.1 = 0.02
    assert sim._try_sell(a) is None      # ref refuses qty < 0.1
    assert a.inventory[key] == 0.2       # nothing sold, nothing forced


def test_sell_keeps_inventory_entry_at_zero():
    sim = _sim()
    a = sim.agents[0]
    key = sim._pools["low"][0]
    a.inventory[key] = 10.0
    sim.rng = _ScriptedRng(choice=[key], uniform=[0.5])
    t = sim._try_sell(a)
    assert t is not None and t.quantity == 5.0
    assert key in a.inventory  # defaultdict semantics: entry persists


# -- decision odds (ref make_decision:212-223, main.py:66-71) ---------------

def test_default_odds_match_reference_defaults():
    sim = _sim()
    assert sim.odds["vip"][:2] == (0.5, 0.2)
    assert sim.odds["unit"][:2] == (0.2, 0.6)  # unit sell 0.6, not 0.5


def test_odds_configurable():
    sim = _sim(vip_buy=0.3, vip_sell=0.4, unit_buy=0.1, unit_sell=0.8)
    assert sim.odds["vip"][:2] == (0.3, 0.4)
    assert sim.odds["unit"][:2] == (0.1, 0.8)


# -- town draw (ref :313,340) -----------------------------------------------

def test_towns_drawn_globally_not_per_faction():
    sim = _sim(seed=7)
    faction_of_customer = {c.key: c.faction_key for c in customers()}
    faction_of_town = {k: f for k, _, f in towns()}
    cross = total = 0
    for _, trades in sim.run_weeks(20):
        for t in trades:
            total += 1
            if faction_of_town[t.town_key] != faction_of_customer[t.customer_key]:
                cross += 1
    assert total > 100
    # 45 global towns, 5 per faction: ~8/9 of draws land cross-faction
    assert cross / total > 0.5


# -- emitted row shape (ref :307-318) ---------------------------------------

def test_balance_recorded_unrounded_after_mutation():
    sim = _sim()
    a = sim.agents[0]
    key = sim._pools["low"][0]
    a.gold = 1000.0
    sim.rng = _ScriptedRng(choices=["low"], choice=[key], uniform=[2.5])
    t = sim._try_buy(a)
    assert t is not None
    assert t.current_gold_balance == a.gold  # raw float, post-mutation


def test_programmatic_invalid_odds_rejected():
    """The CLI validates-and-falls-back; direct construction must raise
    rather than silently run random.choices with a negative HOLD
    weight."""
    import pytest

    with pytest.raises(ValueError, match="odds exceed 1.0"):
        _sim(vip_buy=0.9, vip_sell=0.5)
