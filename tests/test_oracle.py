"""Golden unit tests for the oracle — documents the reference's exact
(and sometimes surprising) semantics with file:line citations, so parity
claims are auditable without running Spark."""

from cheque_ocr_project_spark.oracle import (
    boilerplate,
    classify,
    cleaning,
    fuzzy,
    govrules,
    grammars,
    issuer,
    predicates,
)


class TestCleaning:
    def test_clean_text_v1_confusions(self):
        # issuer_processor_v.py:214: 0->O, 1->I, |->I, 5->S (6/8 untouched)
        assert cleaning.clean_text_v1("5HARMA 5TEEL 1NDUSTRIES") == "SHARMA STEEL INDUSTRIES"
        assert cleaning.clean_text_v1("68") == "68"
        assert cleaning.clean_text_v1("") == "XXX"
        assert cleaning.clean_text_v1(None) == "XXX"
        # charset keeps . , & / - ; strips the rest to space + collapse
        assert cleaning.clean_text_v1("a*b&c") == "A B&C"

    def test_clean_text_v2_adds_g_b(self):
        assert cleaning.clean_text_v2("68") == "GB"

    def test_clean_text_v3_empty_is_empty_not_xxx(self):
        # IssuerBatchProcessorV3.py:171-172 returns "" for empty input
        assert cleaning.clean_text_v3("") == ""
        assert cleaning.clean_text_v3("0|!") == "OII"

    def test_clean_payee_order_sensitive_suffixes(self):
        # payee_cleaner.py:127-133: LTD stripped first, then INDUSTRIES
        # becomes terminal and is stripped by a later pattern in the SAME pass
        assert cleaning.clean_payee("ACME INDUSTRIES LTD") == "ACME"
        # titles chain: multiple leading titles all removed sequentially
        assert cleaning.clean_payee("DR MR RAJESH") == "RAJESH"
        # specials replaced in insertion order (payee_cleaner.py:88-99)
        assert cleaning.clean_payee("A & B") == "A AND B"
        assert cleaning.clean_payee("X") == "XXX"   # len<2 fallback

    def test_spelling_map_order(self):
        # dbf_processor.py:43: COAL->GOAL fires before 'SURYA COAL' can match
        assert cleaning.correct_spelling_ai("SURYA COAL") == "Surya Goal"
        # garbage-word deletion hits substrings (FOR inside a word)
        assert cleaning.correct_spelling_ai("INFORMAL") == "Inmal"
        assert cleaning.correct_spelling_ai("AB") == "UNKNOWN"


class TestPredicates:
    def test_junk_v1_substring_traps(self):
        # 'PAN' ⊂ 'COMPANY', 'RS' ⊂ 'TRADERS' — substring membership is
        # the reference semantics (issuer_processor_v.py:229-232)
        assert predicates.is_junk_v1("ACME COMPANY")
        assert predicates.is_junk_v1("GUPTA TRADERS")
        assert not predicates.is_junk_v1("GUPTA TEXTILES")

    def test_garbage_patterns(self):
        assert predicates.is_garbage("OOOOO")
        assert predicates.is_garbage("AB1")          # letters < 3
        assert predicates.is_garbage("A1B2C333")     # digits > letters
        assert not predicates.is_garbage("RAJESH")

    def test_valid_drawer_rejects(self):
        assert not predicates.is_valid_drawer_v1("HDFC BANK")
        assert not predicates.is_valid_drawer_v1("SEC 12 ROAD")
        assert not predicates.is_valid_drawer_v1("AB")
        assert predicates.is_valid_drawer_v1("GUPTA TEXTILES")

    def test_looks_like_real_name(self):
        assert predicates.looks_like_real_name("RAJESH KUMAR")
        # 'M/S' passes the length whitelist but dies in is_garbage
        # (letters < 3) — a faithful reference quirk
        assert not predicates.looks_like_real_name("M/S")
        assert not predicates.looks_like_real_name("XXX")
        # suspicious only when the term covers >half the text
        assert not predicates.looks_like_real_name("BANKX")
        assert predicates.looks_like_real_name("SOMETHING BANKSIDE KUMAR")

    def test_junk_v3_coverage_rules(self):
        assert predicates.is_junk_v3("JIQ")           # 2-4 caps, not whitelisted
        # the short-caps whitelist (line 139) is defeated by the SAME
        # ^[A-Z]{2,4}$ pattern sitting in JUNK_PATTERNS (line 128) — quirk
        assert predicates.is_junk_v3("LTD")
        assert predicates.is_junk_v3("CHEQUE NO")     # pattern covers >=60%
        assert not predicates.is_junk_v3("GUPTA CHEQUE SERVICES EXTENDED")


class TestClassifier:
    def test_priority_order(self):
        # govt account beats DD even when both markers present
        r = classify.classify("GOVERNMENT ACCOUNT DEMAND DRAFT")
        assert r["type"] == "GOVT_GOVT_ACCOUNT" and r["confidence"] == 0.98
        # DD substring trap: 'DD' inside 'ADDRESS' triggers DEMAND_DRAFT
        assert classify.classify("MY ADDRESS IS HERE")["type"] == "DEMAND_DRAFT"
        r = classify.classify("NOT TRANSFERABLE DDO OFFICE")
        assert r["government_category"] == "II"
        assert classify.classify("PAY SELF")["type"] == "SELF"
        assert classify.classify("just a note")["type"] == "ORDER"

    def test_self_requires_short_text(self):
        long_text = "SELF " + "word " * 20
        assert classify.classify(long_text)["type"] == "ORDER"


class TestGovRules:
    def test_cat3_always_government(self):
        c = classify.classify("GOVT ACCOUNT")
        assert govrules.enforce_payee_rule(c, "ANYONE", "GOVT ACCOUNT") == "GOVERNMENT"

    def test_cat2_designation_from_text(self):
        c = classify.classify("NOT TRANSFERABLE PAO SALARY TREASURY OFFICER")
        out = govrules.enforce_payee_rule(c, None, "NOT TRANSFERABLE PAO SALARY TREASURY OFFICER")
        # literal list scanned in order: PAO precedes TREASURY OFFICER
        assert out == "GOVERNMENT - PAO"

    def test_cat1_entity_override(self):
        c = classify.classify("GOVERNMENT OF INDIA CONTRACT")
        assert govrules.enforce_payee_rule(c, "INDIAN RAILWAYS", "x") == "GOVERNMENT"
        assert govrules.enforce_payee_rule(c, "ACME LTD SUPPLIES EXTRA WORDS", "x") == "ACME LTD SUPPLIES EXTRA WORDS"

    def test_short_name_indicator_rule(self):
        assert govrules.is_government_entity("WATER BOARD")       # <=4 words
        assert not govrules.is_government_entity(
            "THE BIG WATER FEATURE GARDEN SUPPLY COMPANY"          # >4 words, no pattern
        )


class TestGrammars:
    def test_payee_first_nonbank_wins(self):
        assert grammars.extract_payee("PAY TO : RAJESH KUMAR RUPEES") == "RAJESH KUMAR"
        # bank candidate skips to the next pattern
        t = "PAY TO : HDFC BANK LTD ORDER OF GUPTA TRADERS RUPEES"
        assert grammars.extract_payee(t) == "GUPTA TRADERS"

    def test_fields(self):
        f = grammars.extract_fields("Date: 23.02.2026 Rs. 1,25,000.00/- A/C No: 50200101786768")
        assert f["date"] == "23022026"
        # quirk: the amount regex has no anchor, so the FIRST number in the
        # text wins — here the date digits (payee_cleaner.py:196)
        assert f["amount"] == "23.02"
        f2 = grammars.extract_fields("Rs. 1,25,000.00/- only")
        assert f2["amount"] == "125000.00"
        assert f["account"] == "50200101786768"
        assert grammars.extract_micr("123456789 987654321 400259") == (
            "123456789", "987654321", "400259")

    def test_issuer_ai_stages(self):
        # stage 1: FOR suffix truncated at end markers, spelling-corrected
        assert grammars.extract_issuer_text_ai(
            "PAY X FOR SHARMA STEELNDUSTRIES AUTH SIGN") == "Sharma Steel Industries"
        # stage 3: name before a 10-20 digit account number
        out = grammars.extract_issuer_text_ai("GUPTA TRADERS 50200101786768")
        # quirk: the garbage-word deletion removes the substring 'RS'
        # (dbf_processor.py:62), so TRADERS -> TRADE
        assert out == "Gupta Trade"

    def test_issuer_simple(self):
        assert grammars.extract_issuer_simple("x" * 19) == "UNKNOWN"
        t = "PAYMENT ADVICE FOR GUPTA TEXTILES AUTHORISED SIGNATORY PADDING"
        assert grammars.extract_issuer_simple(t) == "Gupta Textiles"


class TestFuzzy:
    DICT = ["GUPTA TRADERS", "RAJESH KUMAR", "SHARMA STEEL INDUSTRIES"]

    def test_v1_cutoff(self):
        name, sim = fuzzy.match_name_v1("RAJESH KUMAR", self.DICT)
        assert (name, sim) == ("RAJESH KUMAR", 1.0)
        name, sim = fuzzy.match_name_v1("RAJESH KUMAT", self.DICT)
        assert name == "RAJESH KUMAR" and 0.9 < sim < 1.0
        assert fuzzy.match_name_v1("ZZZZZZ", self.DICT) == (None, 0.0)

    def test_v2_containment(self):
        name, sim = fuzzy.match_name_v2("GUPTA TRADER", self.DICT)
        assert name == "GUPTA TRADERS" and abs(sim - 12 / 13) < 1e-9
        name, _ = fuzzy.match_name_v2("XX RAJESH KUMAR", self.DICT)
        assert name == "RAJESH KUMAR"   # drawer ⊂ text direction

    def test_v3_prefix_strip_then_exact(self):
        assert fuzzy.match_name_v3("FOR GUPTA TRADERS", self.DICT) == "GUPTA TRADERS"

    def test_length_index_kept_per_dictionary(self, monkeypatch):
        """Rows alternating between two dictionaries build each one's
        length index once; past _LEN_INDEX_MAX dictionaries the oldest
        index is dropped first."""
        monkeypatch.setattr(fuzzy, "_LEN_INDEX", {})
        builds = []
        real_sorted = sorted

        def counting_sorted(xs, **kw):
            builds.append(id(xs))
            return real_sorted(xs, **kw)

        monkeypatch.setattr(fuzzy, "sorted", counting_sorted, raising=False)
        a, b = list(self.DICT), ["KAUR TEXTILES", "MITTAL PHARMA"]
        for _ in range(5):
            fuzzy.match_name_v1("RAJESH KUMAT", a)
            fuzzy.match_name_v1("MITAL PHARMA", b)
        assert builds == [id(a), id(b)]

        more = [[f"NAME {i}"] for i in range(fuzzy._LEN_INDEX_MAX)]
        for d in more:
            fuzzy.match_name_v1("NAME X", d)
        assert len(fuzzy._LEN_INDEX) == fuzzy._LEN_INDEX_MAX
        assert id(a) not in fuzzy._LEN_INDEX
        assert id(more[-1]) in fuzzy._LEN_INDEX


class TestBoilerplate:
    def test_html_keeps_content_drops_nav(self):
        html = (
            '<div class="nav"><a href="/">Home</a> <a href="/a">About</a></div>\n'
            "<p>This paragraph carries the actual main content of the page "
            "and easily exceeds the length floor.</p>\n"
            "<script>tracker();</script>"
        )
        out = boilerplate.main_content(html, "web_fetch")
        assert "main content" in out
        assert "Home" not in out and "tracker" not in out

    def test_pdf_drops_headers_and_page_numbers(self):
        pdf = "HEADER\nbody line one here\nPage 1\nHEADER\nbody line two here\nPage 2\nHEADER"
        out = boilerplate.main_content(pdf, "pdf_extract")
        assert "HEADER" not in out and "Page 1" not in out
        assert "body line one here" in out


class TestIssuerPath:
    DICT = ["GUPTA TRADERS", "RAJESH KUMAR"]

    def test_for_scan_beats_candidates(self):
        text = "GUPTA TRADERS\nFOR RAJESH KUMAR"
        name, conf = issuer.process_turn_issuer_v1(text, self.DICT, threshold=0.5)
        assert name == "RAJESH KUMAR"

    def test_threshold_gate(self):
        # '#' padding lowers alpha-ratio confidence below the 0.99 threshold
        text = "GUPTA TRADERS ####??!!"
        name, conf = issuer.process_turn_issuer_v1(text, self.DICT, threshold=0.99)
        assert name == "XXX"

    def test_stable_tie_break(self):
        # equal scores -> earliest line wins (stable sort parity)
        lines = [("GUPTA TRADERS", 0.9), ("RAJESH KUMAR", 0.9)]
        best, _conf, _s = issuer.extract_issuer_v1(
            [(t, c) for t, c in lines], [])
        assert best in ("GUPTA TRADERS", "RAJESH KUMAR")


class TestFastExtractor:
    def test_fast_patterns(self):
        r = grammars.extract_fast_patterns(
            "PAY GUPTA TRADERS OR BEARER FOR SHARMA FASTNERS AUTH SIGN"
        )
        assert r["payee"] == "Gupta Traders"
        # fast map differs from dbf_processor: FASTNERS -> FASTENERS here
        assert r["issuer"] == "Sharma Fasteners"
        assert r["confidence"] == 0.6

    def test_fast_clean_gurgaon(self):
        assert grammars.clean_name_fast("GURGAON DEPOT") == "Gurugram Depot"
        assert grammars.clean_name_fast("ab") == "UNKNOWN"

    def test_for_first3(self):
        # segment between the FIRST and SECOND 'FOR', first 3 tokens
        assert grammars.extract_for_first3(
            "PAY X FOR ACME STEEL WORKS LTD FOR MORE"
        ) == "ACME STEEL WORKS"
        assert grammars.extract_for_first3("no marker here") == "UNKNOWN"
