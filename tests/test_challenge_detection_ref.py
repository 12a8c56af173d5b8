"""challenge-detection.ts port — BOTH reference suites ported
case-for-case: src/tests/challenge-detection.test.ts (vendor pages,
generic blocks, empty shells, false-positive prevention) and
src/tests/post-extraction-challenge.test.ts (large challenge pages,
404 non-blocks, retailer pages, status-code edges).  Plus the Spark
corpus-gate operator."""

from __future__ import annotations

import json

import pytest

from webpeel_spark.pure.challenge_detection import detect_challenge


def make_html(title: str, body: str, scripts: str = "") -> str:
    return (f"<!DOCTYPE html><html><head><title>{title}</title></head>"
            f"<body>{body}{scripts}</body></html>")


class TestCloudflare:
    # challenge-detection.test.ts:19-77
    def test_just_a_moment(self):
        html = """<!DOCTYPE html>
<html>
<head>
  <title>Just a moment...</title>
  <meta charset="UTF-8" />
</head>
<body>
  <div id="challenge-running"></div>
  <div id="challenge-form" action="/cdn-cgi/challenge-platform/h/b/flow/ov1/...">
    <input type="hidden" id="cf-spinner" value="..." />
  </div>
  <script>window._cf_chl_opt = { cType: 'interactive', cNounce: '12345' };</script>
</body>
</html>"""
        r = detect_challenge(html, 503)
        assert r["is_challenge"] and r["type"] == "cloudflare"
        assert r["confidence"] >= 0.7

    def test_turnstile(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Checking your browser...</title></head>
<body>
  <div class="cf-turnstile" data-sitekey="0x4AAAAAAA..." data-callback="onSuccess"></div>
  <script src="/cdn-cgi/challenge-platform/h/b/turnstile/if/ov2/src/..."></script>
  <div class="cf-chl-widget">Please complete the CAPTCHA below.</div>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "cloudflare"
        assert r["confidence"] >= 0.7

    def test_ray_id_block(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Attention Required! | Cloudflare</title></head>
<body>
  <h1>Error</h1>
  <p>Sorry, you have been blocked.</p>
  <p>You are unable to access example.com</p>
  <div class="cf-error-overview">
    <p>Ray ID: <code>8f3a2b1c4d5e6f7a</code></p>
    <p>Cloudflare Ray ID: 8f3a2b1c • 2024-01-01</p>
  </div>
  <script>window.__cf_chl_f_tk = 'abcdef123456';</script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "cloudflare"
        assert r["confidence"] >= 0.7


class TestPerimeterX:
    # challenge-detection.test.ts:81-140
    def test_block_page(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Access Denied</title></head>
<body>
  <div id="px-block-page">
    <h1>Access Denied</h1>
    <p>You don't have permission to access this page.</p>
  </div>
  <script>
    window._pxAppId = 'PXabcdef12';
    window._pxUuid = 'abc123-def456';
    (function(w, d, s, l, i) {
      // perimeterx integration
      w[l] = w[l] || [];
    })(window, document, 'script', '_pxhd', 'PXabcdef12');
  </script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "perimeterx"
        assert r["confidence"] >= 0.7

    def test_press_and_hold_zillow(self):
        html = make_html(
            "Access to this page has been denied",
            """<div>
        <p>Press & Hold to confirm you area human (and not a bot).</p>
        <p>Reference ID c74752d2-0d38-11f1-83bf-f3d585362b78</p>
      </div>""")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_px_captcha(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Please verify you are human</title></head>
<body>
  <div id="px-captcha">
    <div class="g-recaptcha" data-sitekey="..."></div>
  </div>
  <script>
    window._pxCaptcha = true;
    window._px3 = 'token_here';
    window._pxvid = 'visitor-id-here';
  </script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "perimeterx"
        assert r["confidence"] >= 0.7


class TestAkamaiDataDomeIncapsula:
    # challenge-detection.test.ts:144-230
    def test_akamai_bot_manager(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Access Denied</title></head>
<body>
  <h1>Access Denied</h1>
  <p>You don't have permission to access this resource.</p>
  <script src="https://example.akamaized.net/akam/13/bmak.js"></script>
  <script>
    var _bm_sz = "abcdef1234567890";
    var ak_bmsc = "some_akamai_token_here";
  </script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "akamai"
        assert r["confidence"] >= 0.7

    def test_datadome_interstitial(self):
        html = """<!DOCTYPE html>
<html>
<head>
  <title>Security Check</title>
  <script src="https://ct.datadome.co/captcha/"></script>
</head>
<body>
  <div id="datadome-captcha">
    <p>Please verify you are human to continue.</p>
  </div>
  <script>
    window.ddjskey = 'DD_KEY_12345abcde';
    var dd_referrer = document.referrer;
    var dd_cookie_test = 'test';
    // datadome integration
  </script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "datadome"
        assert r["confidence"] >= 0.7

    def test_datadome_captcha_delivery_etsy(self):
        html = ("<html lang=\"en\"><head><title>etsy.com</title><style>"
                "#cmsg{animation: A 1.5s;}@keyframes A{0%{opacity:0;}99%"
                "{opacity:0;}100%{opacity:1;}}</style></head><body style="
                "\"margin:0\"><script data-cfasync=\"false\">var dd={'rt'"
                ":'c','cid':'AHrlqA','hsh':'D013AA','t':'bv','s':45977,"
                "'host':'geo.captcha-delivery.com','cookie':'hGW_WGUTY'}"
                "</script><script data-cfasync=\"false\" src=\"https://"
                "ct.captcha-delivery.com/c.js\"></script><iframe src="
                "\"https://geo.captcha-delivery.com/captcha/?initialCid="
                "AHrlqA\" title=\"DataDome CAPTCHA\" width=\"100%\" height"
                "=\"100%\" style=\"height:100vh;\" frameborder=\"0\">"
                "</iframe></body></html>")
        r = detect_challenge(html, 403)
        assert r["is_challenge"]
        assert r["type"] in ("datadome", "generic-block")
        assert r["confidence"] >= 0.7

    def test_incapsula(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Incapsula incident ID</title></head>
<body>
  <p>This site requires JavaScript and Cookies to be enabled.</p>
  <p>Please change your browser settings or upgrade your browser.</p>
  <script src="https://www.imperva.com/protect/incapsula.js?appId=..."></script>
  <script>
    var incapsula_resource = 'blocked';
    // incap_ses_xyz = cookie value
    // visid_incap_123 = visitor id
  </script>
  <noscript>
    <iframe src="https://www.incapsula.com/acl/ident.html?..."></iframe>
  </noscript>
</body>
</html>"""
        r = detect_challenge(html)
        assert r["is_challenge"] and r["type"] == "incapsula"
        assert r["confidence"] >= 0.7


class TestGenericBlocks:
    # challenge-detection.test.ts:234-295
    def test_access_denied(self):
        html = make_html(
            "Access Denied",
            """<h1>403 Forbidden</h1>
       <p>You do not have permission to access this resource.</p>
       <p>Please verify you are human to continue browsing this site.</p>
       <p>Your access has been blocked due to suspicious activity detected.</p>""")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_bot_detected(self):
        html = make_html(
            "Bot Detected",
            """<h1>Automated access detected</h1>
       <p>We have detected unusual traffic from your computer network.</p>
       <p>Please prove you are human by completing the CAPTCHA below.</p>
       <p>This check prevents automated access to our servers.</p>
       <div class="g-recaptcha" data-sitekey="..."></div>""")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_short_403(self):
        html = ("<!DOCTYPE html><html><head><title>403 Forbidden</title>"
                "</head><body><h1>Forbidden</h1><p>Access denied.</p>"
                "</body></html>")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_meta_refresh_to_captcha(self):
        html = """<!DOCTYPE html>
<html>
<head>
  <meta http-equiv="refresh" content="0; url=/challenge/verify?type=captcha" />
  <title>Redirecting...</title>
</head>
<body>
  <p>Please wait while we verify your browser...</p>
  <p>You will be redirected to the challenge page.</p>
</body>
</html>"""
        r = detect_challenge(html, 302)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_rate_limit_429(self):
        html = make_html(
            "Too Many Requests",
            "<p>Rate limit exceeded. Please slow down your requests.</p>")
        r = detect_challenge(html, 429)
        assert r["is_challenge"] and r["confidence"] >= 0.7


class TestEmptyShell:
    # challenge-detection.test.ts:299-352
    def test_nextjs_shell(self):
        scripts = "\n".join(
            ['<script src="/static/chunks/main.js"></script>'] * 5)
        styles = "\n".join(
            ['<link rel="stylesheet" href="/_next/static/css/app.css" />']
            * 3)
        html = f"""<!DOCTYPE html>
<html>
<head>
  <meta charset="UTF-8" />
  <meta name="viewport" content="width=device-width, initial-scale=1" />
  {styles}
  <title>My App</title>
</head>
<body>
  <div id="__next"></div>
  {scripts}
  <script>self.__next_f=self.__next_f||[]</script>
  <script src="/_next/static/chunks/webpack.js" defer></script>
  <script src="/_next/static/chunks/framework.js" defer></script>
  <noscript>You need to enable JavaScript to run this app.</noscript>
</body>
</html>"""
        padded = html + " " * max(0, 2500 - len(html))
        r = detect_challenge(padded)
        assert r["is_challenge"] and r["type"] == "empty-shell"
        assert r["confidence"] >= 0.7

    def test_react_shell(self):
        scripts = "\n".join(
            ['<script src="/static/js/main.chunk.js"></script>'] * 6)
        html = f"""<!DOCTYPE html>
<html lang="en">
<head>
  <meta charset="utf-8" />
  <meta name="viewport" content="width=device-width, initial-scale=1" />
  <link rel="stylesheet" href="/static/css/main.css" />
  <title>React App</title>
</head>
<body>
  <noscript>You need to enable JavaScript to run this app.</noscript>
  <div id="root"></div>
  {scripts}
  <script>window.__REDUX_STATE__ = {{}};</script>
</body>
</html>"""
        padded = html + " " * max(0, 2500 - len(html))
        r = detect_challenge(padded)
        assert r["is_challenge"] and r["type"] == "empty-shell"
        assert r["confidence"] >= 0.7


class TestExpediaBotOrNot:
    # challenge-detection.test.ts:356-407
    def test_bot_or_not(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Bot or Not?</title></head>
<body>
  <h2>Show us your human side...</h2>
  <p>We can't tell if you're a human or a bot.</p>
  <p>Please complete the verification below to continue.</p>
</body>
</html>"""
        r = detect_challenge(html, 200)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_pardon_our_interruption(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Pardon Our Interruption</title></head>
<body>
  <h1>Pardon Our Interruption</h1>
  <p>As you were browsing, something about your browser made us think you were a bot.</p>
  <p>There are a few reasons this might happen:</p>
  <ul>
    <li>You're a power user moving through this website with super-human speed.</li>
    <li>You've disabled JavaScript in your web browser.</li>
  </ul>
  <p>Reference ID: a1b2c3d4-e5f6-7890-abcd-ef1234567890</p>
  <script>
    window._pxAppId = 'PXabcdef12';
    window._pxUuid = 'uuid-1234-5678';
  </script>
</body>
</html>"""
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_automated_traffic_denied(self):
        html = make_html(
            "Access Denied",
            """<h1>Access Denied</h1>
       <p>Your request has been blocked due to automated traffic detected from your IP.</p>
       <p>Please verify your identity to continue.</p>""")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7


class TestFalsePositivePrevention:
    # challenge-detection.test.ts:411-559
    def test_article_about_captcha(self):
        html = make_html(
            "How CAPTCHA Works: A Deep Dive",
            """<article>
        <h1>Understanding CAPTCHA: History and How It Works</h1>
        <p>CAPTCHA (Completely Automated Public Turing test to tell Computers and Humans Apart)
           was invented by Luis von Ahn at Carnegie Mellon University in 2000.</p>
        <p>The most common implementation today is Google's reCAPTCHA, which uses image
           recognition challenges to verify users. Cloudflare has its own CAPTCHA called
           Turnstile that is more privacy-preserving.</p>
        <p>Bot detection systems like PerimeterX, DataDome, and Akamai Bot Manager use
           CAPTCHAs as a last resort after other signals have already flagged suspicious
           traffic patterns from automated access tools.</p>
        <p>Modern CAPTCHA systems use JavaScript challenges, mouse movement tracking,
           and behavioral analysis to distinguish human users from bots.</p>
        <p>When you see "Verify you are human", the system is running challenge-response
           tests behind the scenes before showing you the actual content.</p>
        <p>For developers building scrapers or automated testing tools, understanding these
           bot detection techniques helps in building more respectful and compliant tools.</p>
      </article>""")
        assert not detect_challenge(html)["is_challenge"]

    def test_normal_short_page(self):
        html = make_html(
            "Contact Us",
            """<h1>Contact Us</h1>
       <p>Email us at hello@example.com</p>
       <p>We typically respond within 24 hours.</p>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_login_page(self):
        html = make_html(
            "Sign In — MyApp",
            """<main>
        <h1>Welcome back</h1>
        <form action="/login" method="post">
          <label for="email">Email</label>
          <input type="email" id="email" name="email" placeholder="you@example.com" />
          <label for="password">Password</label>
          <input type="password" id="password" name="password" />
          <button type="submit">Sign in</button>
        </form>
        <p><a href="/forgot-password">Forgot password?</a></p>
        <p>Don't have an account? <a href="/register">Create one</a></p>
      </main>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_404_page(self):
        html = make_html(
            "Page Not Found — Example",
            """<main>
        <h1>404 — Page Not Found</h1>
        <p>The page you were looking for doesn't exist.</p>
        <a href="/">Go back home</a>
      </main>""")
        assert not detect_challenge(html, 404)["is_challenge"]

    def test_security_blog_post(self):
        html = make_html(
            "10 Tips for Better Web Security",
            """<article>
        <h1>10 Tips for Better Web Security</h1>
        <p>Web security is a critical concern for all developers. Here are ten practices
           that can help you keep your application safe.</p>
        <h2>1. Use HTTPS everywhere</h2>
        <p>Always serve your content over HTTPS. Modern browsers flag HTTP sites as
           insecure, and search engines penalize them in rankings.</p>
        <h2>2. Implement rate limiting</h2>
        <p>Rate limiting helps prevent brute force attacks and abuse. You can implement
           it at the application level or using a CDN like Cloudflare.</p>
        <h2>3. Validate all inputs</h2>
        <p>Never trust user input. Validate, sanitize, and escape everything that comes
           from the outside world.</p>
        <h2>4. Keep dependencies updated</h2>
        <p>Outdated dependencies are a major source of vulnerabilities. Use tools like
           Dependabot or Snyk to stay on top of updates.</p>
        <p>Following these best practices will dramatically improve your application
           security posture. Remember: security is not a one-time task but an ongoing
           process that requires constant attention and improvement.</p>
      </article>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_api_json_response(self):
        payload = json.dumps({"status": "ok",
                              "data": {"users": [], "total": 0},
                              "message": "Access granted"})
        assert not detect_challenge(payload, 200)["is_challenge"]

    def test_product_page(self):
        html = make_html(
            "Blue Widget — MyStore",
            """<div class="product-page">
        <h1>Blue Widget</h1>
        <p class="price">$29.99</p>
        <p class="description">
          This high-quality blue widget is perfect for all your widget needs.
          Made from premium materials, it is durable and long-lasting.
          Available in multiple colors and sizes to fit every use case.
        </p>
        <button>Add to Cart</button>
        <div class="reviews">
          <h2>Customer Reviews</h2>
          <div class="review">
            <p>Great product! Works exactly as described.</p>
            <p>— Jane D., Verified Buyer</p>
          </div>
          <div class="review">
            <p>Very happy with my purchase. Fast shipping too!</p>
            <p>— Bob S., Verified Buyer</p>
          </div>
        </div>
      </div>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_short_error_200(self):
        html = make_html(
            "Oops",
            "<p>Something went wrong. Please try again later.</p>")
        assert not detect_challenge(html, 200)["is_challenge"]


class TestPostExtractionSuite:
    """post-extraction-challenge.test.ts ported case-for-case."""

    def test_large_cloudflare(self):
        large_script = "x" * 3000
        html = f"""<!DOCTYPE html>
<html>
<head><title>Just a moment...</title></head>
<body>
  <div id="challenge-running">Checking your browser before accessing the site.</div>
  <div id="challenge-form" action="/cdn-cgi/challenge-platform/h/b/flow/ov1/...">
    <input type="hidden" id="cf-spinner" />
  </div>
  <script>window._cf_chl_opt = {{ cType: 'interactive' }}; {large_script}</script>
  <script src="/cdn-cgi/challenge-platform/scripts/jsd/main.js"></script>
  <noscript><p>Please enable JavaScript to continue.</p></noscript>
  <p>Performance &amp; security by Cloudflare</p>
  <span>Ray ID: 8f3a2b1c4d5e6f7a</span>
</body>
</html>"""
        assert len(html) > 2000
        r = detect_challenge(html, 503)
        assert r["is_challenge"] and r["type"] == "cloudflare"
        assert r["confidence"] >= 0.7

    def test_large_akamai(self):
        inline = "<script>" + 'var _s="' + "a" * 2000 + '";' + "</script>"
        html = f"""<!DOCTYPE html>
<html>
<head><title>Access Denied</title></head>
<body>
  <h1>Access Denied</h1>
  <p>You don't have permission to access this resource.</p>
  <script src="https://example.akamaized.net/akam/13/bmak.js"></script>
  <script>var ak_bmsc = "token"; var _abck = "akamai_cookie"; var bm_sz = "size";</script>
  {inline}
</body>
</html>"""
        assert len(html) > 2000
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "akamai"

    def test_large_perimeterx(self):
        px = "<script>" + 'window._px3="' + "b" * 2000 + '";' + "</script>"
        html = f"""<!DOCTYPE html>
<html>
<head><title>Pardon Our Interruption</title></head>
<body>
  <div class="block-page">
    <h1>Pardon Our Interruption</h1>
    <p>As you were browsing, something about your browser made us think you were a bot.</p>
    <p>Press & Hold to confirm you are a human (and not a bot).</p>
    <p>Reference ID: c74752d2-0d38-11f1-83bf-f3d585362b78</p>
  </div>
  <script>
    window._pxAppId = 'PXabcdef12';
    window._pxUuid = 'abc123-def456';
  </script>
  {px}
</body>
</html>"""
        assert len(html) > 2000
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "perimeterx"

    def test_standard_404(self):
        html = make_html(
            "Page Not Found",
            """<h1>404 — Page Not Found</h1>
       <p>Sorry, this page doesn't exist.</p>
       <a href="/">Go back home</a>""")
        assert not detect_challenge(html, 404)["is_challenge"]

    def test_amazon_404(self):
        html = make_html(
            "Sorry! We couldn't find that page - Amazon.com",
            """<div class="a-container">
        <h1>Looking for something?</h1>
        <p>We're sorry. The Web address you entered is not a functioning page on our site.</p>
        <p>Go to Amazon.com's Home Page</p>
        <img src="/error-page-dog.png" alt="Dog" />
      </div>""")
        assert not detect_challenge(html, 404)["is_challenge"]

    def test_walmart_404(self):
        html = make_html(
            "Error 404 | Walmart.com",
            """<div class="error-page">
        <h1>We couldn't find this page</h1>
        <p>The page you're looking for has been moved, deleted, or doesn't exist.</p>
        <p>Here are some helpful links instead:</p>
        <a href="/">Homepage</a>
        <a href="/browse/electronics">Electronics</a>
      </div>""")
        assert not detect_challenge(html, 404)["is_challenge"]

    def test_article_about_cloudflare(self):
        html = make_html(
            "How Cloudflare Protects Against DDoS Attacks",
            """<article>
        <h1>How Cloudflare Protects Against DDoS Attacks</h1>
        <p>Cloudflare is one of the leading CDN and web security providers. Their bot
           protection uses challenge pages, CAPTCHAs, and JavaScript challenges to verify
           that visitors are human.</p>
        <p>When you see a "Just a moment..." page, that's Cloudflare's browser verification
           at work. It checks your browser's Ray ID and other signals.</p>
        <p>Cloudflare also offers Turnstile, a CAPTCHA alternative that doesn't require
           user interaction. This is used on many e-commerce sites.</p>
        <p>Sites like Amazon, Walmart, and Target use various bot detection systems including
           Akamai Bot Manager, which shows "Access Denied" pages to blocked requests.</p>
        <p>For web scraping, you need to handle these challenge pages gracefully, either by
           using residential proxies, browser automation with stealth plugins, or CAPTCHA
           solving services.</p>
      </article>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_blocked_in_review(self):
        html = make_html(
            "Premium Drain Guard - $24.99",
            """<div class="product">
        <h1>Premium Drain Guard</h1>
        <p class="price">$24.99</p>
        <p>Keep your drains clear and blocked-free with our premium drain guard.</p>
        <div class="reviews">
          <div class="review">
            <p>"My drain was completely blocked before I got this. Now water flows freely!"</p>
            <p>— Sarah M., Verified Buyer</p>
          </div>
          <div class="review">
            <p>"Excellent product. Access denied to all hair and debris. Nothing gets past it."</p>
            <p>— Mike R., Verified Buyer</p>
          </div>
        </div>
      </div>""")
        assert not detect_challenge(html, 200)["is_challenge"]

    def test_500_error_page(self):
        html = make_html(
            "Internal Server Error",
            """<h1>500 Internal Server Error</h1>
       <p>Sorry, something went wrong on our end. Please try again later.</p>
       <p>If this problem persists, please contact support.</p>""")
        assert not detect_challenge(html, 500)["is_challenge"]

    def test_zillow_press_hold(self):
        html = make_html(
            "Access to this page has been denied",
            """<div>
        <h1>Please verify you are a human</h1>
        <p>Press & Hold to confirm you are a human (and not a bot).</p>
        <p>Reference ID: c74752d2-0d38-11f1-83bf-f3d585362b78</p>
      </div>""")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_target_akamai(self):
        html = ("<!DOCTYPE html><html><head><title>Access Denied</title>"
                "</head><body><h1>Access Denied</h1><p>You don't have "
                "permission to access this resource.</p><script src="
                "\"https://cdn.akamaized.net/akam/13/bmak.js\"></script>"
                "<script>var _abck=\"token\";var bm_sz=\"size\";</script>"
                "</body></html>")
        assert detect_challenge(html, 403)["is_challenge"]

    def test_etsy_captcha_delivery(self):
        html = ("<html lang=\"en\"><head><title>etsy.com</title><style>"
                "#cmsg{animation: A 1.5s;}@keyframes A{0%{opacity:0;}99%"
                "{opacity:0;}100%{opacity:1;}}</style></head><body style="
                "\"margin:0\"><script data-cfasync=\"false\">var dd={'rt'"
                ":'c','cid':'AHrlqA','hsh':'D013AA','t':'bv','s':45977,"
                "'host':'geo.captcha-delivery.com','cookie':'hGW_WGUTY'}"
                "</script><script data-cfasync=\"false\" src=\"https://"
                "ct.captcha-delivery.com/c.js\"></script><iframe src="
                "\"https://geo.captcha-delivery.com/captcha/?initialCid="
                "AHrlqA\" title=\"DataDome CAPTCHA\" width=\"100%\" height"
                "=\"100%\" style=\"height:100vh;\" frameborder=\"0\">"
                "</iframe></body></html>")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_expedia_200_status(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Bot or Not?</title></head>
<body>
  <h2>Show us your human side...</h2>
  <p>We can't tell if you're a human or a bot.</p>
  <p>Please complete the verification below to continue.</p>
</body>
</html>"""
        r = detect_challenge(html, 200)
        assert r["is_challenge"] and r["confidence"] >= 0.7

    def test_bestbuy_akamai(self):
        html = ("<!DOCTYPE html><html><head><title>Access Denied</title>"
                "</head><body><h1>Access Denied</h1><script src=\"https://"
                "example.akamaized.net/akam/13/bmak.js\"></script><script>"
                "var ak_bmsc = \"token_here\"; var _abck = \"akamai\";"
                "</script></body></html>")
        r = detect_challenge(html, 403)
        assert r["is_challenge"] and r["type"] == "akamai"

    def test_cloudflare_200_interstitial(self):
        html = """<!DOCTYPE html>
<html>
<head><title>Just a moment...</title></head>
<body>
  <div id="challenge-running"></div>
  <div class="cf-browser-verification">Verifying your browser...</div>
  <script>window._cf_chl_opt = { cType: 'managed' };</script>
</body>
</html>"""
        r = detect_challenge(html, 200)
        assert r["is_challenge"] and r["type"] == "cloudflare"

    def test_healthy_page_no_status(self):
        html = make_html(
            "My Store - Home",
            """<h1>Welcome to My Store</h1>
       <p>Browse our collection of widgets and gadgets.</p>
       <div class="product-grid">
         <div class="product"><h2>Widget A</h2><p>$19.99</p></div>
         <div class="product"><h2>Widget B</h2><p>$29.99</p></div>
       </div>""")
        assert not detect_challenge(html)["is_challenge"]


class TestSparkOperator:
    @pytest.fixture(scope="class")
    def spark(self):
        pytest.importorskip("pyspark")
        from webpeel_spark.session import get_spark

        s = get_spark(cores=4)
        s.sparkContext.setLogLevel("ERROR")
        return s

    def test_challenge_signals_gate(self, spark):
        from webpeel_spark.operators.challenge import challenge_signals

        cf = ("<!DOCTYPE html><html><head><title>Just a moment...</title>"
              "</head><body><div id=\"challenge-running\"></div><div "
              "class=\"cf-browser-verification\"></div><script>window."
              "_cf_chl_opt={}</script></body></html>")
        real = make_html("Widgets", "<h1>Widgets</h1>"
                         + "<p>Buy our great widgets today.</p>" * 40)
        df = spark.createDataFrame(
            [("https://a.com/x", cf.encode("utf-8"), 200),
             ("https://b.com/y", real.encode("utf-8"), 200),
             ("https://c.com/z", None, None)],
            "url string, html binary, status int")
        got = {r["url"]: r for r in
               challenge_signals(df, status_col="status").collect()}
        a = got["https://a.com/x"]
        assert a["is_challenge"] and a["challenge_type"] == "cloudflare"
        pure = detect_challenge(cf, 200)
        assert a["challenge_confidence"] == pure["confidence"]
        b = got["https://b.com/y"]
        assert not b["is_challenge"]
        c = got["https://c.com/z"]
        assert not c["is_challenge"] and c["challenge_confidence"] == 0.0

    def test_plan_is_shuffle_free(self, spark):
        from tests.plan_tools import plan_has_exchange
        from webpeel_spark.operators.challenge import challenge_signals

        df = spark.createDataFrame(
            [("u", b"<html></html>")], "url string, html binary")
        assert not plan_has_exchange(challenge_signals(df))


def test_confidence_values_bit_identical_to_node():
    """14-case fixture of the REFERENCE source run under Node (types
    stripped, logic untouched): is_challenge, type, confidence DOUBLE
    (incl. 0.9500000000000001-style float-sum artifacts) and details
    string all match bit-for-bit."""
    import os

    fixture = os.path.join(os.path.dirname(__file__), "golden",
                           "challenge_conf_node.json")
    with open(fixture) as f:
        cases = json.load(f)
    assert len(cases) >= 14
    for name, c in cases.items():
        r = detect_challenge(c["html"], c["status"])
        assert r["is_challenge"] == c["isChallenge"], name
        assert r["type"] == c["type"], name
        assert r["confidence"] == c["confidence"], (
            name, r["confidence"], c["confidence"])
        assert r["details"] == c["details"], name
