"""DOM parser + selector engine tests."""

from webpeel_spark.dom import (
    Node, parse_html, parse_fragment, parse_xml, select, select_first,
    document_body,
)


class TestParser:
    def test_basic_structure(self):
        root = parse_html("<html><head><title>T</title></head><body><p>x</p></body></html>")
        body = document_body(root)
        assert body is not None
        assert body.element_children()[0].tag == "p"

    def test_structure_synthesized(self):
        root = parse_html("<p>bare paragraph</p>")
        body = document_body(root)
        assert body is not None and "bare paragraph" in body.text()

    def test_head_content_placed(self):
        root = parse_html("<title>T</title><p>b</p>")
        assert select_first(root, "head title") is not None
        assert select_first(root, "body p") is not None

    def test_void_tags(self):
        root = parse_html("<body><img src='x.png'><br><p>after</p></body>")
        body = document_body(root)
        tags = [c.tag for c in body.element_children()]
        assert tags == ["img", "br", "p"]

    def test_p_autoclose(self):
        root = parse_html("<body><p>one<p>two</body>")
        ps = select(root, "p")
        assert len(ps) == 2
        assert ps[0].text() == "one"

    def test_li_autoclose(self):
        root = parse_html("<body><ul><li>a<li>b<li>c</ul></body>")
        assert [li.text() for li in select(root, "li")] == ["a", "b", "c"]

    def test_table_autoclose(self):
        root = parse_html("<table><tr><td>a<td>b<tr><td>c</table>")
        assert len(select(root, "tr")) == 2
        assert len(select(root, "td")) == 3

    def test_stray_end_tag_ignored(self):
        root = parse_html("<body><p>x</p></div></body>")
        assert select_first(root, "p").text() == "x"

    def test_script_raw_text(self):
        root = parse_html("<body><script>if (a < b) { x(); }</script></body>")
        assert "a < b" in select_first(root, "script").text()

    def test_entities_decoded(self):
        root = parse_html("<body><p>a &amp; b &lt;c&gt;</p></body>")
        assert select_first(root, "p").text() == "a & b <c>"

    def test_serialization_roundtrip(self):
        root = parse_html('<body><div class="x"><p>hi</p></div></body>')
        assert '<div class="x"><p>hi</p></div>' in document_body(root).html()

    def test_remove_and_replace(self):
        root = parse_html("<body><div id='a'>x</div><div id='b'>y</div></body>")
        select_first(root, "#a").remove()
        assert select_first(root, "#a") is None
        select_first(root, "#b").replace_with_html("<span>z</span>")
        assert select_first(root, "span").text() == "z"

    def test_clone_independent(self):
        root = parse_html("<body><div><p>x</p></div></body>")
        div = select_first(root, "div")
        clone = div.clone()
        clone.children.clear()
        assert select_first(root, "p") is not None

    def test_xml_mode_link_not_void(self):
        root = parse_xml("<rss><item><link>https://a.com</link></item></rss>")
        assert select_first(root, "link").text() == "https://a.com"


class TestSelectors:
    HTML = """
    <body>
      <nav role="navigation"><a href="/x">x</a></nav>
      <div class="sidebar wide" id="side"><span>s</span></div>
      <article role="main">
        <p class="lead">first</p>
        <p>second</p>
        <a href="https://a.com" title="t">link</a>
      </article>
      <div class="ad-banner"></div>
      <p></p>
      <meta property="og:title" content="T">
      <div class="author authority">bad</div>
      <div class="author">good</div>
    </body>
    """

    def setup_method(self):
        self.root = parse_html(self.HTML)

    def test_tag(self):
        assert len(select(self.root, "p")) == 3

    def test_class(self):
        assert select_first(self.root, ".sidebar").get("id") == "side"

    def test_compound_class(self):
        assert select_first(self.root, "div.sidebar.wide") is not None
        assert select_first(self.root, "div.sidebar.narrow") is None

    def test_id(self):
        assert select_first(self.root, "#side") is not None

    def test_attr_presence(self):
        assert select_first(self.root, "a[href]") is not None
        assert select_first(self.root, "a[download]") is None

    def test_attr_equals(self):
        assert select_first(self.root, '[role="main"]').tag == "article"

    def test_attr_contains(self):
        assert select_first(self.root, '[class*="side"]') is not None
        assert select_first(self.root, '[class*="ad-"]') is not None

    def test_descendant(self):
        assert select_first(self.root, "article p").text() == "first"

    def test_child(self):
        assert select_first(self.root, "article > p") is not None
        assert select_first(self.root, "body > span") is None

    def test_comma(self):
        assert len(select(self.root, "nav, article")) == 2

    def test_empty_pseudo(self):
        empties = select(self.root, "p:empty, div:empty")
        assert len(empties) == 2

    def test_not_pseudo(self):
        els = select(self.root, '.author:not([class*="authority"])')
        assert len(els) == 1
        assert els[0].text() == "good"

    def test_meta_property(self):
        el = select_first(self.root, 'meta[property="og:title"]')
        assert el.get("content") == "T"

    def test_document_order(self):
        tags = [e.tag for e in select(self.root, "nav, .sidebar, article")]
        assert tags == ["nav", "div", "article"]


class TestSelectorExtensionsR2:
    """nth-child and sibling combinators (added for the bundled site
    schemas, schema-extraction.ts selectors)."""

    def test_nth_child(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html("<div><span>a</span><span>b</span>"
                          "<span>c</span></div>")
        got = [e.text() for e in select(root, "div span:nth-child(2)")]
        assert got == ["b"]
        assert select(root, "div span:nth-child(5)") == []

    def test_general_sibling(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html('<div><i id="x"></i><span>skip</span>'
                          "<b>hit</b></div>")
        got = [e.tag for e in select(root, "#x ~ b")]
        assert got == ["b"]
        assert select(root, "b ~ i") == []  # i precedes b

    def test_adjacent_sibling(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html("<div><i>1</i><b>2</b><b>3</b></div>")
        got = [e.text() for e in select(root, "i + b")]
        assert got == ["2"]
        got2 = [e.text() for e in select(root, "b + b")]
        assert got2 == ["3"]

    def test_nested_sibling_then_descendant(self):
        from webpeel_spark.dom import parse_html, select

        root = parse_html('<div><p class="a">x</p><p class="b">'
                          "<span>deep</span></p></div>")
        got = [e.text() for e in select(root, ".a ~ .b span")]
        assert got == ["deep"]


class TestElementsCache:
    """Pins the memoized document-order walk (Node.elements_list /
    Node._elements) against the uncached lazy walk it accelerates:
    same order, same membership, invalidated by every element-
    membership mutation, and snapshot-stable for in-flight loops that
    mutate the tree (the _clean_dom pattern)."""

    DOC = ("<body><header>h</header><div id='a'><p>one</p>"
           "<p>two<span>s</span></p></div><footer><a href='#'>f</a>"
           "</footer></body>")

    @staticmethod
    def _naive_walk(node):
        """Reference recursive walk: descendant elements, doc order."""
        out = []
        for c in node.children:
            if isinstance(c, Node):
                out.append(c)
                out.extend(TestElementsCache._naive_walk(c))
        return out

    def test_matches_lazy_walk_and_memoizes(self):
        root = parse_html(self.DOC)
        lazy = list(root.iter_elements())
        lst = root.elements_list()
        assert lst == lazy == self._naive_walk(root)
        assert root.elements_list() is lst  # cache hit, same object
        # iter_elements serves the cached snapshot with identical order
        assert list(root.iter_elements()) == lst

    def test_remove_invalidates_ancestors(self):
        root = parse_html(self.DOC)
        body = document_body(root)
        before_root = root.elements_list()
        before_body = body.elements_list()
        victim = select_first(root, "#a")
        victim.remove()
        after_root = root.elements_list()
        assert after_root is not before_root
        assert after_root == self._naive_walk(root)
        assert body.elements_list() is not before_body
        assert victim not in after_root
        assert all(e.tag != "p" for e in after_root)

    def test_replace_with_html_invalidates(self):
        root = parse_html(self.DOC)
        root.elements_list()
        select_first(root, "span").replace_with_html("<b>x</b><i>y</i>")
        assert root.elements_list() == self._naive_walk(root)
        assert [e.tag for e in select(root, "p b, p i")] == ["b", "i"]

    def test_replace_with_text_invalidates(self):
        root = parse_html(self.DOC)
        root.elements_list()
        a = select_first(root, "a")
        a.replace_with_text(a.text())
        fresh = root.elements_list()
        assert fresh == self._naive_walk(root)
        assert all(e.tag != "a" for e in fresh)
        assert document_body(root).text().endswith("f")

    def test_append_child_invalidates(self):
        root = parse_html(self.DOC)
        root.elements_list()
        div = select_first(root, "#a")
        div.append_child(Node("em"))
        fresh = root.elements_list()
        assert fresh == self._naive_walk(root)
        # membership is the claim; ORDER is pinned by the naive-walk
        # equality above (a positional re-check here would be circular)
        assert any(e.tag == "em" for e in fresh)

    def test_text_append_keeps_cache(self):
        # appending a text child does not change element membership
        root = parse_html(self.DOC)
        lst = root.elements_list()
        select_first(root, "#a").append_child("plain text")
        assert root.elements_list() is lst

    def test_detached_subtree_keeps_valid_cache(self):
        root = parse_html(self.DOC)
        div = select_first(root, "#a")
        sub = div.elements_list()
        div.remove()
        # detached subtree unchanged → its cache still valid
        assert div.elements_list() is sub
        assert sub == self._naive_walk(div)

    def test_mutation_during_iteration_is_snapshot(self):
        # the _clean_dom pattern: iterate the memoized list while
        # removing nodes.  Must behave exactly like the pre-cache
        # idiom `for el in list(root.iter_elements())`.
        html = ("<body><header>x</header><div><header>y</header>"
                "<p>keep</p></div><header>z</header></body>")
        ref = parse_html(html)
        for el in list(ref.iter_elements()):
            if el.tag == "header":
                el.remove()
        cached = parse_html(html)
        for el in cached.elements_list():
            if el.tag == "header":
                el.remove()
        assert cached.html() == ref.html()
        assert cached.elements_list() == self._naive_walk(cached)

    def test_clone_has_no_stale_cache(self):
        root = parse_html(self.DOC)
        root.elements_list()
        body = document_body(root)
        c = body.clone()
        assert c.elements_list() == self._naive_walk(c)
        assert len(c.elements_list()) == len(body.elements_list())

    def test_differential_random_mutations(self):
        # seeded random trees + random mutation sequences; after every
        # step the memoized walk must equal the naive recursive walk
        import random

        rng = random.Random(1730)
        tags = ["div", "p", "span", "b", "ul", "li"]
        for _ in range(40):
            root = Node("#root")
            pool = [root]
            for i in range(rng.randint(5, 60)):
                parent = rng.choice(pool)
                n = Node(rng.choice(tags))
                parent.append_child(n)
                if rng.random() < 0.3:
                    parent.append_child("t%d" % i)
                pool.append(n)
            assert root.elements_list() == self._naive_walk(root)
            for _ in range(rng.randint(1, 15)):
                els = root.elements_list()
                if not els:
                    break
                node = rng.choice(els)
                op = rng.random()
                if op < 0.5:
                    node.remove()
                elif op < 0.7:
                    node.replace_with_text("x")
                elif op < 0.9:
                    node.append_child(Node(rng.choice(tags)))
                else:
                    node.replace_with_html("<i>r</i>")
                assert root.elements_list() == self._naive_walk(root)


class TestCacheEndToEndDifferential:
    """The strongest pin for the memoized walk: the full extraction
    envelope must be byte-identical with the cache active vs forcibly
    disabled (every elements_list call recomputes).  Catches any
    consumer that silently depends on stale-snapshot vs fresh-walk
    differences anywhere in the pipeline."""

    def test_extract_page_identical_with_cache_disabled(self, monkeypatch):
        from webpeel_spark.pure.pipeline import DEFAULT_OPTIONS, ExtractOptions, extract_page
        from webpeel_spark.sources.corpus import generate_rows
        import webpeel_spark.dom.core as dom_core

        rows = generate_rows(120, seed=31)
        option_sets = [
            DEFAULT_OPTIONS,
            ExtractOptions(selector="article, .content"),
            ExtractOptions(exclude_tags=("script", "nav")),
            ExtractOptions(lite=True),
            ExtractOptions(readable=True),
        ]

        def run_all():
            out = []
            for opts in option_sets:
                for r in rows[:: len(option_sets)]:
                    out.append(extract_page(r["url"], r["html"], opts))
            return out

        with_cache = run_all()

        def uncached(self):
            els = []
            stack = [c for c in reversed(self.children)
                     if isinstance(c, dom_core.Node)]
            while stack:
                node = stack.pop()
                els.append(node)
                if node.children:
                    stack.extend(
                        [c for c in reversed(node.children)
                         if isinstance(c, dom_core.Node)])
            return els

        monkeypatch.setattr(dom_core.Node, "elements_list", uncached)
        without_cache = run_all()
        assert with_cache == without_cache
